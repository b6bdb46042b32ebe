package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A per-row kernel: one compiled Scala function from one or two column
  * values to a column value, with the parameters or model it needs.
  * [[KernelCall]] is the one Catalyst expression that runs it. Kernels are
  * case classes, so equal parameters give equal kernels (arrays and models
  * compare by reference), which is what CSE and exchange reuse compare.
  *
  * `apply` takes and returns Catalyst's internal values (`ArrayData`,
  * `UTF8String`, `InternalRow`, primitives); it never sees a null input.
  */
sealed abstract class Kernel extends Product with Serializable {
  /** The SQL function name, shown in plans. */
  def prettyName: String
  /** The child types it reads, one per argument. */
  def inputTypes: Seq[DataType]
  def dataType: DataType
  /** Whether `apply` may return null for non-null inputs. A primitive
    * result then comes boxed, so null can be told from a value.
    */
  def nullable: Boolean = false

  /** This kernel set up for children of `types`, or None when it cannot
    * read them. Array nullability is not compared. A kernel that reads
    * more than one input type overrides this to pick its reader.
    */
  def on(types: Seq[DataType]): Option[Kernel] = {
    def shape(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(shape(e))
      case other           => other
    }
    if (types.map(shape) == inputTypes.map(shape)) Some(this) else None
  }
}

/** A kernel of one argument. */
abstract class Kernel1[I, O] extends Kernel {
  def inputType: DataType
  final def inputTypes: Seq[DataType] = Seq(inputType)
  def apply(in: I): O
}

/** A kernel of two arguments. */
abstract class Kernel2[A, B, O] extends Kernel {
  def apply(a: A, b: B): O
}

/** Runs a [[Kernel]] on its children: a null child gives null, and so
  * does a nullable kernel's null result. Codegen binds the kernel as a
  * reference object typed as its concrete class and emits
  * `kernel.apply(c0[, c1])`: a direct call into compiled Scala, so the
  * operator stays inside WholeStageCodegen, and kernel parameters never
  * reach the generated source, which is therefore the same for every
  * parameter value (K-means iterations reuse one compiled class).
  */
case class KernelCall(children: Seq[Expression], kernel: Kernel)
    extends Expression {
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullable || children.exists(_.nullable)
  override def prettyName: String = kernel.prettyName
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ kernel.productIterator

  @transient private lazy val bound: Option[Kernel] =
    kernel.on(children.map(_.dataType))

  override def checkInputDataTypes(): TypeCheckResult =
    if (bound.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs " +
      s"${kernel.inputTypes.map(_.simpleString).mkString(", ")}, got " +
      children.map(_.dataType.simpleString).mkString(", "))

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input)
    if (a == null) null
    else bound.get match {
      case k: Kernel1[Any, Any] @unchecked => k(a)
      case k: Kernel2[Any, Any, Any] @unchecked =>
        val b = children(1).eval(input)
        if (b == null) null else k(a, b)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = bound.get
    val ref = ctx.addReferenceObj("kernel", k, k.getClass.getName)
    val args = children.map(_.genCode(ctx))
    val call = s"$ref.apply(${args.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val result =
      if (!k.nullable) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(dataType)) {
        val boxed = ctx.freshName("boxed")
        s"""${CodeGenerator.boxedType(dataType)} $boxed = $call;
           |${ev.isNull} = $boxed == null;
           |if (!${ev.isNull}) ${ev.value} = $boxed.${javaType}Value();""".stripMargin
      } else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
    if (nullable) {
      // each child is evaluated only when the ones before it are not null
      val body = args.zip(children).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((g, c), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $result""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

object KernelCall {
  def apply(child: Expression, kernel: Kernel): KernelCall =
    KernelCall(Seq(child), kernel)

  def column(c: Column, kernel: Kernel): Column =
    GraftBridge.column(KernelCall(GraftBridge.expression(c), kernel))

  def column(a: Column, b: Column, kernel: Kernel): Column =
    GraftBridge.column(KernelCall(Seq(a, b).map(GraftBridge.expression), kernel))

  private[expr] val Strings: DataType = ArrayType(StringType)
  private[expr] val Longs: DataType = ArrayType(LongType, containsNull = false)
  private[expr] val Doubles: DataType = ArrayType(DoubleType)
  private[expr] val NestedStrings: DataType = ArrayType(ArrayType(StringType))
}

import KernelCall.{Longs, NestedStrings, Strings}

/** 40-bit md5 prefix: the first 5 digest bytes, value-identical to the
  * oracle's `('0x'||substr(md5(x),1,10))::BIGINT`.
  */
object Md5Hash40 {
  def of(bytes: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
    ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
  }
}

/** First 15 hex digits of md5 as a 60-bit long — the fused equivalent of
  * `conv(substring(md5(x),1,15),16,10)` (TextFunctions.fingerprint and the
  * oracle's `('0x'||substr(md5(x),1,15))::BIGINT`): bytes 0-6 whole, plus
  * the high nibble of byte 7.
  */
object Md5Hash60 {
  def of(bytes: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }
}

/** Single-pass token and shingle hashing. The HOF formulation
  * (`transform(tokens, t => conv(substring(md5(t)...)`) is evaluated
  * interpreted per element (higher-order functions are CodegenFallback);
  * profiling showed it dominating the dedup pack (~57µs/shingle). These
  * kernels build the bytes, md5 them and keep a prefix in one JVM pass.
  *
  * Distinct word-n-gram shingle hashes from a token array — the fused
  * equivalent of `array_distinct(transform(wordShingles(toks, n),
  * tokenHash40))`, value-identical to it: shingles are the U+0001-joined
  * n-grams (the separator keeps token boundaries — ["ab","c"] and
  * ["a","bc"] must NOT produce the same shingle), with the whole text as
  * a single shingle when there are fewer than n tokens
  * (SimilarityFunctions.wordShingles semantics; the DuckDB oracle joins
  * with chr(1) identically).
  */
case class ShingleHashes(n: Int) extends Kernel1[ArrayData, ArrayData] {
  def prettyName: String = "graft_shingle_hash40"
  def inputType: DataType = Strings
  def dataType: DataType = Longs

  def apply(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    // concat_ws semantics: null elements are skipped WITHOUT a separator;
    // the separator goes between non-null elements even when one is empty
    // (["","a"] → "\u0001" + "a"), so track first-non-null, not sb.length
    def join(sb: java.lang.StringBuilder, idx: Int, first: Boolean): Boolean =
      if (arr.isNullAt(idx)) first
      else {
        if (!first) sb.append('\u0001')
        sb.append(arr.getUTF8String(idx))
        false
      }
    if (m < n) {
      val sb = new java.lang.StringBuilder
      var first = true
      var i = 0
      while (i < m) { first = join(sb, i, first); i += 1 }
      seen.add(Md5Hash40.of(sb.toString.getBytes("UTF-8")))
    } else {
      var i = 0
      while (i + n <= m) {
        val sb = new java.lang.StringBuilder
        var first = true
        var j = 0
        while (j < n) { first = join(sb, i + j, first); j += 1 }
        seen.add(Md5Hash40.of(sb.toString.getBytes("UTF-8")))
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** Positioned word-n-gram hashes: out(j) = 60-bit md5 hash of the
  * space-joined tokens j..j+n-1, for j in 0..m-n (EMPTY when m < n — a
  * short document has no full window, unlike [[ShingleHashes]]' whole-text
  * fallback, because span arithmetic needs every hash to stand for exactly
  * n tokens). Non-distinct and index-aligned so the consumer can map a
  * duplicated hash back to the token span it covers (Dedup.dupSpans).
  * Space-joining is injective here: tokens come from a whitespace split,
  * so they cannot contain the separator. Value-identical to the oracle's
  * `('0x'||substr(md5(array_to_string(ts[j+1:j+n],' ')),1,15))::BIGINT`.
  */
case class PositionedShingleHashes(n: Int) extends Kernel1[ArrayData, ArrayData] {
  require(n > 0, s"n must be positive, got $n")
  def prettyName: String = "graft_positioned_shingle_hash60"
  def inputType: DataType = Strings
  def dataType: DataType = Longs

  def apply(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i + n <= m) {
      val sb = new java.lang.StringBuilder
      var j = 0
      var first = true
      while (j < n) {
        // concat_ws semantics (nulls skipped without separator) — token
        // arrays from TextFunctions.tokens never carry nulls, but stay
        // consistent with the column-function formulation
        if (!arr.isNullAt(i + j)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(i + j))
          first = false
        }
        j += 1
      }
      out(i) = Md5Hash60.of(sb.toString.getBytes("UTF-8"))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-token md5-prefix hashes (non-distinct; a null token hashes as the
  * empty string). `width` 40 is the fused `transform(toks, tokenHash40)`
  * feeding SimHash-40; `width` 60 ([[Md5Hash60]]) feeds the 60-bit SimHash
  * whose 12-bit pieces give 24-bit band keys — the corpus-size dial for
  * the banded join's birthday-collision residual.
  */
case class TokenHashes(width: Int) extends Kernel1[ArrayData, ArrayData] {
  require(width == 40 || width == 60, s"width must be 40 or 60, got $width")
  def prettyName: String = s"graft_token_hash$width"
  def inputType: DataType = Strings
  def dataType: DataType = Longs

  def apply(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      val s = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      out(i) = if (width == 40) Md5Hash40.of(s.getBytes) else Md5Hash60.of(s.getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Pieces of every token of a document under a trained [[SubwordModel]],
  * nested per token: `array<array<string>>` where out(j) is token j's
  * pieces in order. The model rides as the kernel's reference object, so
  * every task reuses one encoder and one shared word cache. A null token
  * element encodes as an empty piece list, keeping the output
  * index-aligned with the input tokens.
  */
case class SubwordEncode(model: SubwordModel) extends Kernel1[ArrayData, ArrayData] {
  def prettyName: String = model.encodeName
  def inputType: DataType = Strings
  def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)

  def apply(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var j = 0
    while (j < n) {
      out(j) =
        if (arr.isNullAt(j)) new GenericArrayData(Array.empty[AnyRef])
        else new GenericArrayData(model.encodeWord(arr.getUTF8String(j).toString)
          .map(p => UTF8String.fromString(p): AnyRef))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Decode nested pieces (`array<array<string>>`) back to text: per token,
  * pieces concatenate as UTF-8 bytes — byte tokens contribute their byte,
  * every other piece its encoded text (with the `##` continuation marker
  * stripped at positions > 0 when `wordPiece`) — then tokens join with
  * single spaces; a null token decodes as empty and a null piece is
  * skipped. Because byte runs land in one buffer per token, a
  * multi-byte codepoint split across byte tokens reassembles exactly.
  * This is the decode side of the byte-fallback gate; the plain
  * (non-fallback) round-trip queries keep their pure-column decode.
  */
case class DecodePieces(wordPiece: Boolean) extends Kernel1[ArrayData, UTF8String] {
  def prettyName: String = "graft_piece_decode"
  def inputType: DataType = NestedStrings
  def dataType: DataType = StringType

  def apply(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val sb = new java.lang.StringBuilder
    val buf = new java.io.ByteArrayOutputStream()
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      if (!arr.isNullAt(j)) {
        val ps = arr.getArray(j)
        val m = ps.numElements()
        buf.reset()
        var i = 0
        while (i < m) {
          if (!ps.isNullAt(i)) { // skipped, as concat_ws skips it
            var p = ps.getUTF8String(i).toString
            if (wordPiece && i > 0 && p.length > 2 && p.startsWith("##") &&
                !ByteTokens.isByteToken(p))
              p = p.substring(2)
            if (ByteTokens.isByteToken(p)) buf.write(ByteTokens.byteOf(p))
            else buf.write(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          i += 1
        }
        sb.append(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      }
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Positional WordPiece symbols of one word — `abc` → `a ##b ##c` — the
  * trainer's coverage explode ([[graft.ops.WordPiece.train]]). Runs over
  * the distinct-word aggregate (never the corpus).
  */
case object WordSymbols extends Kernel1[UTF8String, ArrayData] {
  def prettyName: String = "graft_wordpiece_symbols"
  def inputType: DataType = StringType
  def dataType: DataType = ArrayType(StringType, containsNull = false)

  def apply(w: UTF8String): ArrayData = {
    val cps = w.toString.codePoints().toArray
    val out = new Array[AnyRef](cps.length)
    var i = 0
    while (i < cps.length) {
      val cs = new String(Character.toChars(cps(i)))
      out(i) = UTF8String.fromString(if (i == 0) cs else "##" + cs)
      i += 1
    }
    new GenericArrayData(out)
  }
}
