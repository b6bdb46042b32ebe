package graft.expr

/** Byte-fallback piece vocabulary — the SentencePiece `byte_fallback`
  * convention (also the id-space GPT-2's byte-level BPE guarantees): 256
  * reserved pieces `<0x00>`…`<0xFF>`, one per byte value, seeded into
  * every fallback-mode vocabulary so that ANY codepoint the trained
  * pieces cannot cover decomposes into the byte tokens of its UTF-8
  * encoding instead of a lossy `[UNK]`. The closed vocabulary is then
  * trained-pieces ∪ byte-tokens, decode is exact for arbitrary input, and
  * no input can fall outside the id space.
  *
  * Collision discipline (the part SentencePiece gets for free by working
  * in ids): byte tokens here are STRINGS, so a document literally
  * containing the text `<0x41>` must not round-trip to `A`. Three rules
  * keep the mapping bijective — (1) fallback-mode trainers never LEARN a
  * piece whose text is byte-token-shaped (the merge/seed filters below),
  * (2) fallback-mode matchers never text-match byte tokens (they are
  * excluded from the tries — emitted by the fallback path only), so
  * literal `<0x41>` text encodes through its individual characters, and
  * (3) decode therefore inverts byte tokens unconditionally.
  */
object ByteTokens {
  /** `<0x00>`…`<0xFF>` — uppercase hex, the SentencePiece spelling. */
  val tokens: Array[String] = Array.tabulate(256)(b => f"<0x$b%02X>")

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Exactly `<0xHH>` with uppercase hex. */
  def isByteToken(s: String): Boolean =
    s.length == 6 && s.charAt(0) == '<' && s.charAt(1) == '0' &&
      s.charAt(2) == 'x' && s.charAt(5) == '>' &&
      hexVal(s.charAt(3)) >= 0 && hexVal(s.charAt(4)) >= 0

  /** The byte value of a byte token (caller checks [[isByteToken]]). */
  def byteOf(s: String): Int = (hexVal(s.charAt(3)) << 4) | hexVal(s.charAt(4))

  /** Byte tokens of one codepoint's UTF-8 encoding (1–4 tokens). */
  def encodeCp(cp: Int): Array[String] =
    new String(Character.toChars(cp))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => tokens(b & 0xff))
}
