package graft.expr

import java.nio.ByteBuffer
import java.nio.charset.{Charset, CharsetDecoder, CodingErrorAction}

import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-reinterpreting string conversions for the reference's encoding
  * specs (dataset_type.py:789-800 'unicode:*'/'ascii[:...]').
  *
  * The reference's data model is bytes-in/type-later: csvimport yields raw
  * bytes and dataset_type's `unicode:<codec>[/errors]` decodes them. Our
  * csvimport's byte-preserving mode (CsvImportConfig.encoding = "bytes")
  * maps every raw byte b to the code unit U+00<b> (iso-8859-1 — bijective),
  * so "recover the bytes" here means reading code units ≤ 0xFF back as
  * bytes. A code unit > 0xFF means the value never came from the bytes
  * import (it is already-decoded text) — that is a bad value, not silently
  * re-encoded text.
  *
  * The conversions are kernels ([[KernelCall]]: one compiled call per
  * VALUE, not an interpreted HOF per element) so the typing pass stays
  * one codegen'd projection over the scan.
  */
object RecodeHelper {
  // CharsetDecoder is stateful and not thread-safe: one per (codec, errors)
  // per thread, reset per value.
  private val decoders = new ThreadLocal[java.util.HashMap[String, CharsetDecoder]] {
    override def initialValue() = new java.util.HashMap[String, CharsetDecoder]
  }

  private[expr] def decoderFor(charset: String, errors: String): CharsetDecoder = {
    val key = charset + "/" + errors
    val m = decoders.get()
    var d = m.get(key)
    if (d == null) {
      val action = errors match {
        case "replace" => CodingErrorAction.REPLACE
        case "ignore"  => CodingErrorAction.IGNORE
        case _         => CodingErrorAction.REPORT // strict
      }
      d = Charset.forName(charset).newDecoder()
        .onMalformedInput(action).onUnmappableCharacter(action)
      m.put(key, d)
    }
    d
  }

  /** Validate a codec/errors pair driver-side (fail fast at plan time, the
    * same place the reference's _resolve_unicode asserts).
    */
  def validate(charset: String, errors: String): Unit = {
    require(Seq("strict", "replace", "ignore").contains(errors),
      s"unicode errors must be strict/replace/ignore, got '$errors'")
    Charset.forName(charset) // throws on unknown codec
  }

  def formOf(form: String): java.text.Normalizer.Form = form match {
    case "NFC"  => java.text.Normalizer.Form.NFC
    case "NFD"  => java.text.Normalizer.Form.NFD
    case "NFKC" => java.text.Normalizer.Form.NFKC
    case "NFKD" => java.text.Normalizer.Form.NFKD
    case other => throw new IllegalArgumentException(
      s"unicode normal form must be NFC/NFD/NFKC/NFKD, got '$other'")
  }
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization step a
  * text pipeline runs before tokenization/fingerprinting, so that composed
  * and decomposed spellings of the same grapheme fingerprint identically.
  * Fast path: `Normalizer.isNormalized` returns the input untouched for
  * already-normal text (the overwhelmingly common case in web corpora), so
  * the scan-side pass allocates nothing per row unless it must rewrite.
  * Normal forms are fully specified by the Unicode standard — DuckDB's
  * utf8proc-based nfc_normalize produces identical bytes, which is what the
  * oracle checks.
  */
case class UnicodeNormalize(form: String) extends Kernel1[UTF8String, UTF8String] {
  // resolved ONCE (which also fails an unknown form at plan time): per-row
  // string→Form matching has no place on the hot path
  private val f = RecodeHelper.formOf(form)
  def prettyName: String = "graft_unicode_normalize"
  def inputType: DataType = StringType
  def dataType: DataType = StringType

  def apply(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }
}

/** dataset_type `unicode:<codec>[/errors]` — reinterpret byte-preserving
  * code units as raw bytes and decode them with `charset`. null = bad
  * value: a strict decode failure, or input that is not byte-preserving
  * (a code unit > 0xFF).
  */
case class RecodeCharset(charset: String, errors: String)
    extends Kernel1[UTF8String, UTF8String] {
  def prettyName: String = "graft_recode"
  def inputType: DataType = StringType
  def dataType: DataType = StringType
  override def nullable: Boolean = true

  def apply(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val bytes = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val ch = str.charAt(i)
      if (ch > 0xFF) return null
      bytes(i) = ch.toByte
      i += 1
    }
    val dec = RecodeHelper.decoderFor(charset, errors)
    dec.reset()
    try UTF8String.fromString(dec.decode(ByteBuffer.wrap(bytes)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => null }
  }
}

/** dataset_type `ascii[:replace|:encode]` (dataset_type.py:143-152,
  * 797-800): every byte > 127 becomes a 3-digit octal escape \ooo;
  * `escapeBackslash` (encode) additionally escapes backslash as \134.
  * Code units ≤ 0xFF are the raw bytes (byte-preserving import); a rare
  * > 0xFF unit (already-decoded text) escapes each of its UTF-8 bytes —
  * the honest byte rendering. Never fails (output is always pure ASCII).
  */
case class AsciiOctal(escapeBackslash: Boolean) extends Kernel1[UTF8String, UTF8String] {
  def prettyName: String = "graft_ascii_octal"
  def inputType: DataType = StringType
  def dataType: DataType = StringType

  def apply(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    var needs = false
    var i = 0
    while (!needs && i < n) {
      val ch = str.charAt(i)
      needs = ch > 127 || (escapeBackslash && ch == '\\')
      i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(n + 8)
    def esc(b: Int): Unit = {
      sb.append('\\')
      sb.append(('0' + ((b >> 6) & 7)).toChar)
      sb.append(('0' + ((b >> 3) & 7)).toChar)
      sb.append(('0' + (b & 7)).toChar)
    }
    i = 0
    while (i < n) {
      val ch = str.charAt(i)
      if (escapeBackslash && ch == '\\') esc('\\'.toInt)
      else if (ch <= 127) sb.append(ch)
      else if (ch <= 0xFF) esc(ch.toInt)
      else {
        val cp = str.codePointAt(i)
        val bs = String.valueOf(Character.toChars(cp))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        bs.foreach(b => esc(b & 0xFF))
        i += Character.charCount(cp) - 1 // 1 extra unit ONLY for a real pair
        // (an unpaired high surrogate consumes one unit; skipping two would
        // silently drop the following character)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
