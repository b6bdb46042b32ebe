package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for graft's custom expressions, via the standard extension
  * point: `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) registers them in the
  * session's function registry, so pure-SQL users — the `spark.sql(...)` /
  * thrift-server audience — get the library without touching the Scala
  * API.
  *
  * Only expressions whose semantics SQL can't already express are
  * registered (the Column-combinator operators are plain SQL once
  * written); each function builds the same expression the Scala API
  * uses, so plans are identical whichever surface declared them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  import graft.expr.{BigNumCanon, DecodePieces, DotLong, DotProduct, KernelCall,
    Log2Fp, MinHashSig, QuantizeInt8, QuantizeLong, ShingleHashes, SimHash,
    SqDistLong, StringArrayEntropyFp, TokenHashes, UnicodeNormalize, Utf8EntropyFp}

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, usage: String)(b: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        b))

    inject("graft_shingle_hashes",
      "graft_shingle_hashes(text, n) - distinct 40-bit word-n-gram shingle hashes") {
      args => expect(args, 2)
        KernelCall(tokensExpr(args(0)), ShingleHashes(litInt(args(1), "n")))
    }
    inject("graft_minhash_sig",
      "graft_minhash_sig(hashes, k) - k-slot minhash signature of a long-array") {
      args => expect(args, 2)
        KernelCall(args(0), MinHashSig(litInt(args(1), "k")))
    }
    inject("graft_simhash",
      "graft_simhash(hashes, bits) - simhash of a token-hash array") {
      args => expect(args, 2)
        KernelCall(args(0), SimHash(litInt(args(1), "bits")))
    }
    inject("graft_token_hashes",
      "graft_token_hashes(tokens) - per-token 40-bit hashes (non-distinct)") {
      args => expect(args, 1)
        KernelCall(args(0), TokenHashes(40))
    }
    inject("graft_dot",
      "graft_dot(a, b) - sequential-fold dot product of two double arrays") {
      args => expect(args, 2)
        KernelCall(args, DotProduct)
    }
    inject("graft_sqdist",
      "graft_sqdist(a, b) - squared Euclidean distance of two long arrays") {
      args => expect(args, 2)
        KernelCall(args, SqDistLong)
    }
    inject("graft_dot_long",
      "graft_dot_long(a, b) - sequential-fold dot product of two long arrays") {
      args => expect(args, 2)
        KernelCall(args, DotLong)
    }
    inject("graft_log2fp",
      "graft_log2fp(x) - integer-exact 2^20-scaled log2 of a positive BIGINT") {
      args => expect(args, 1)
        KernelCall(args(0), Log2Fp)
    }
    inject("graft_quantize",
      "graft_quantize(v, shift) - floor(x * 2^shift) per element as longs") {
      args => expect(args, 2)
        KernelCall(args(0), QuantizeLong(litInt(args(1), "shift"))())
    }
    inject("graft_quantize_int8",
      "graft_quantize_int8(v) - struct(scale, q): symmetric int8 codes of a double array") {
      args => expect(args, 1)
        KernelCall(args(0), QuantizeInt8)
    }
    inject("graft_unicode_normalize",
      "graft_unicode_normalize(s, form) - Unicode NFC/NFD/NFKC/NFKD normalization") {
      args => expect(args, 2)
        KernelCall(args(0), UnicodeNormalize(litStr(args(1), "form")))
    }
    inject("graft_bignum",
      "graft_bignum(s) - canonical big integer (reference number range), null if invalid") {
      args => expect(args, 1)
        KernelCall(args(0), BigNumCanon)
    }
    inject("graft_bignum_sum",
      "graft_bignum_sum(s) - exact arbitrary-precision SUM of canonical bignum strings") {
      args => expect(args, 1)
        graft.expr.BigNumSum(args(0))
    }
    inject("graft_misra_gries",
      "graft_misra_gries(token, k) - mergeable heavy-hitters summary, O(k) state") {
      args => expect(args, 2)
        graft.expr.MisraGriesAgg(args(0), litInt(args(1), "k"))
    }
    inject("graft_char_entropy_fp",
      "graft_char_entropy_fp(s) - struct(n, ent_fp): integer-exact code-point entropy, n*H*2^20") {
      args => expect(args, 1)
        KernelCall(args(0), Utf8EntropyFp)
    }
    inject("graft_token_entropy_fp",
      "graft_token_entropy_fp(s) - struct(n, ent_fp): entropy of the normalized token multiset") {
      args => expect(args, 1)
        KernelCall(tokensExpr(args(0)), StringArrayEntropyFp)
    }
    inject("graft_jpeg_meta",
      "graft_jpeg_meta(bin) - struct(width, height, components) via the JPEG SOI/SOF marker walk") {
      args => expect(args, 1)
        graft.expr.MediaCall.jpegMeta(args(0))
    }
    inject("graft_avi_meta",
      "graft_avi_meta(bin) - struct(width, height, n_frames, usec_per_frame, handler) via the AVI RIFF walk") {
      args => expect(args, 1)
        graft.expr.MediaCall.aviMeta(args(0))
    }
    inject("graft_mjpeg_stats",
      "graft_mjpeg_stats(bin, step) - every-step-th MJPEG frame decoded, aggregated pixel statistics") {
      args => expect(args, 2)
        graft.expr.MediaCall.mjpegStats(args(0), litInt(args(1), "step"))
    }
    inject("graft_mjpeg_frame",
      "graft_mjpeg_frame(bin, idx) - the idx-th video frame's raw JPEG bytes") {
      args => expect(args, 2)
        graft.expr.MediaCall.mjpegFrame(args(0), litInt(args(1), "idx"))
    }
    inject("graft_gif_stats",
      "graft_gif_stats(bin) - struct(width, height, channels, px_sum, px_min, px_max) of a fully decoded GIF") {
      args => expect(args, 1)
        graft.expr.MediaCall.gifStats(args(0))
    }

    inject("graft_gif_meta",
      "graft_gif_meta(bin) - struct(width, height, n_frames): GIF animation length via the sub-block walk, no decode") {
      args => expect(args, 1)
        graft.expr.MediaCall.gifMeta(args(0))
    }

    inject("graft_png_stats",
      "graft_png_stats(bin) - struct(width, height, channels, px_sum, px_min, px_max) of a decoded PNG (all 8-bit color types, Adam7 included)") {
      args => expect(args, 1)
        graft.expr.MediaCall.pngStats(args(0))
    }

    inject("graft_png16_stats",
      "graft_png16_stats(bin) - struct(width, height, channels, px_sum, px_min, px_max) over a 16-bit PNG's full-precision samples") {
      args => expect(args, 1)
        graft.expr.MediaCall.png16Stats(args(0))
    }

    inject("graft_jpeg_stats",
      "graft_jpeg_stats(bin) - struct(width, height, channels, px_sum, px_min, px_max) of a decoded JPEG (baseline/multi-scan/progressive/arithmetic)") {
      args => expect(args, 1)
        graft.expr.MediaCall.jpegStats(args(0))
    }

    inject("graft_wav_stats",
      "graft_wav_stats(bin) - struct(n_samples, sample_rate, pcm_sum, pcm_sqsum, pcm_peak, pcm_zc, pcm_bits) of a WAV across the whole envelope: integer PCM 8/16/24/32-bit, G.711 u/A-law, IEEE float32/float64, WAVE_FORMAT_EXTENSIBLE, IMA and Microsoft ADPCM") {
      args => expect(args, 1)
        graft.expr.MediaCall.wavPcmStats(args(0))
    }

    inject("graft_jpeg12_stats",
      "graft_jpeg12_stats(bin) - struct(width, height, px_sum, px_min, px_max) of a 12-bit extended-sequential (SOF1) gray JPEG at full precision") {
      args => expect(args, 1)
        graft.expr.MediaCall.jpeg12Stats(args(0))
    }

    inject("graft_jpeg_lossless_stats",
      "graft_jpeg_lossless_stats(bin) - struct(width, height, components, precision, px_sum, px_min, px_max) of a lossless (SOF3) JPEG at full 2-16 bit precision") {
      args => expect(args, 1)
        graft.expr.MediaCall.jpegLosslessStats(args(0))
    }

    inject("graft_piece_decode",
      "graft_piece_decode(pieces, word_piece) - decode nested tokenizer pieces (array<array<string>>) back to text; <0xHH> byte tokens invert unconditionally (model-free by the byte-fallback convention), ## continuations strip at position > 0 when word_piece") {
      args => expect(args, 2)
        KernelCall(args(0), DecodePieces(litBool(args(1), "word_piece")))
    }
  }
}

private object GraftExtensions {
  private def expect(args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"expected $n arguments, got ${args.length}")

  /** The catalyst tree of TextFunctions.tokens(normalized(text)) — SQL
    * builders must return expressions, not Column wrappers (an unresolved
    * ColumnNode inside a resolved function result never re-enters
    * analysis). Kept value-identical to the Column form:
    * array_remove(split(lower(trim(regexp_replace(text,'\s+',' '))),'\s+'),'').
    */
  private def tokensExpr(text: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayRemove, Lower, RegExpReplace, StringSplit, StringTrim}
    val norm = Lower(StringTrim(RegExpReplace(text,
      Literal(UTF8String.fromString("\\s+"), StringType),
      Literal(UTF8String.fromString(" "), StringType))))
    ArrayRemove(
      StringSplit(norm, Literal(UTF8String.fromString("\\s+"), StringType),
        Literal(-1, IntegerType)),
      Literal(UTF8String.fromString(""), StringType))
  }

  /** Parameters that shape the expression (k, n, bits, form) must be
    * foldable literals — they are kernel parameters, fixed for the whole
    * query, so they can't vary by row.
    */
  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType)   => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$what must be a literal integer, got $e")
  }

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case _ => throw new IllegalArgumentException(
      s"$what must be a literal string, got $e")
  }

  private def litBool(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
    case _ => throw new IllegalArgumentException(
      s"$what must be a literal boolean, got $e")
  }
}
