package graft.expr

import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Bounded RIFF chunk walk for WAV metadata extraction.
  *
  * A valid WAV is RIFF("WAVE") followed by tagged chunks; `fmt ` and `data`
  * are NOT guaranteed to come first — real-world encoders put LIST/INFO,
  * `fact`, `bext` etc. before them. Fixed-offset parsing (what this
  * replaces) silently returns garbage on such files. The walk is bounded
  * (maxChunks) and bounds-checked, so an adversarial header can't loop or
  * read out of range; cost is a few byte reads per value, codegen'd.
  */
object RiffWalkHelper {
  private final val MaxChunks = 16

  /** 1-based offset of the first `tag` chunk's DATA within a RIFF/WAVE
    * blob, or -1 when absent / not a WAV. 1-based so the result plugs
    * straight into SQL `substr` arithmetic.
    */
  def chunkDataOffset(bytes: Array[Byte], t0: Byte, t1: Byte, t2: Byte, t3: Byte): Long = {
    if (bytes == null || bytes.length < 12) return -1L
    if (bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
        bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E')
      return -1L
    val n = bytes.length.toLong
    var off = 12L
    var k = 0
    while (k < MaxChunks && off + 8 <= n) {
      val o = off.toInt
      if (bytes(o) == t0 && bytes(o + 1) == t1 && bytes(o + 2) == t2 && bytes(o + 3) == t3)
        return off + 9 // skip tag+size, convert to 1-based
      val size = (bytes(o + 4) & 0xffL) | ((bytes(o + 5) & 0xffL) << 8) |
                 ((bytes(o + 6) & 0xffL) << 16) | ((bytes(o + 7) & 0xffL) << 24)
      off += 8L + size + (size & 1L) // chunks are word-aligned
      k += 1
    }
    -1L
  }
}

/** 1-based data offset of the first RIFF chunk tagged `tag` (4 ASCII
  * chars), null when the blob is not a WAV or lacks the chunk.
  */
case class RiffChunkOffset(tag: String) extends Kernel1[Array[Byte], java.lang.Long] {
  require(tag.length == 4 && tag.forall(_ < 128),
    s"RIFF chunk tag must be 4 ASCII chars, got '$tag'")
  def prettyName: String = "graft_riff_chunk_offset"
  def inputType: DataType = BinaryType
  def dataType: DataType = LongType
  override def nullable: Boolean = true

  private val tb: Array[Byte] = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  def apply(bytes: Array[Byte]): java.lang.Long = {
    val r = RiffWalkHelper.chunkDataOffset(bytes, tb(0), tb(1), tb(2), tb(3))
    if (r < 0) null else r
  }
}
