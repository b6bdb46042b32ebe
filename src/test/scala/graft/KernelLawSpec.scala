package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.expr._
import graft.ops.{Bpe, Unigram, WordPiece}
import TestSpark.spark

/** Laws every per-row kernel keeps, table-driven over all of them: on
  * nulls, empty arrays, null elements and hostile unicode, interpreted
  * `eval`, generated code (the DataFrame path, with codegen fallback off)
  * and a plain-Scala model agree; equal parameters give semantically
  * equal expressions and different ones do not; a child of the wrong
  * type fails analysis.
  */
class KernelLawSpec extends AnyFunSuite {

  // combining accent, astral pair, byte-token and marker look-alikes, a
  // control character, right-to-left override, byte-order mark
  private val hostile: Seq[String] = Seq("", "hello", "abab", "\u00DF",
    "\u4E2D\u6587", "e\u0301", "\uD83D\uDE00x", "<0x41>", "##ab", "a\u0001b",
    "\u202Eabc", "\uFEFF", "z\u2603")

  private val tokenArrays: Seq[Seq[String]] = Seq(null, Seq(), Seq(null),
    Seq("a", null, "b"), Seq("", "a"), Seq("a", "b", "a", "b"), hostile)

  private val counts = Seq(("hello", 5L), ("abab", 4L), ("ba", 3L),
    ("world", 2L))
  private val bpe = Bpe.trainFromCounts(counts, 12)
  private val uni = Unigram.trainFromCounts(counts, vocabSize = 20,
    byteFallback = true)
  private val wp = WordPiece.trainFromCounts(counts, 12)

  private def md5Prefix(s: String, hexDigits: Int): Long =
    java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString
      .take(hexDigits), 16)

  /** concat_ws: nulls skipped, no separator for them. */
  private def joinWs(sep: String, xs: Seq[String]): String =
    xs.filter(_ != null).mkString(sep)

  private def decodeModel(tokens: Seq[Seq[String]], wordPiece: Boolean): String = {
    val byteToken = "<0x([0-9A-F]{2})>".r
    tokens.map { t =>
      if (t == null) ""
      else new String(t.zipWithIndex.filter(_._1 != null).flatMap { case (p, i) =>
        val q = if (wordPiece && i > 0 && p.length > 2 && p.startsWith("##") &&
                    !byteToken.matches(p)) p.drop(2) else p
        q match {
          case byteToken(h) => Seq(Integer.parseInt(h, 16).toByte)
          case _            => q.getBytes(UTF_8).toSeq
        }
      }.toArray, UTF_8)
    }.mkString(" ")
  }

  private val nestedArrays: Seq[Seq[Seq[String]]] = Seq(null, Seq(), Seq(null),
    Seq(Seq()), Seq(Seq("un", "##aff", "##able"), null, Seq("##x", "##y")),
    Seq(Seq("<0xE2>", "<0x98>", "<0x83>"), Seq("a", null, "##b", "<0x41>")),
    hostile.map(h => uni.encodeWord(h).toSeq))

  /** One kernel under test: how to build it (twice, for the equality
    * law), its SQL name, its inputs, and its plain-Scala model.
    */
  private case class Law(make: () => Kernel[_, _], prettyName: String,
                         inputs: Seq[Any], model: Any => Any)

  private def onTokens(f: Seq[String] => Any): Any => Any =
    v => f(v.asInstanceOf[Seq[String]])

  private def encodeModel(m: SubwordModel): Any => Any =
    onTokens(_.map(t => if (t == null) Seq() else m.encodeWord(t).toSeq))

  private def shingles(n: Int): Any => Any = onTokens { toks =>
    if (toks.size < n) Seq(md5Prefix(joinWs("\u0001", toks), 10))
    else toks.sliding(n).map(w => md5Prefix(joinWs("\u0001", w), 10))
      .toSeq.distinct
  }

  private def positioned(n: Int): Any => Any = onTokens { toks =>
    if (toks.size < n) Seq()
    else toks.sliding(n).map(w => md5Prefix(joinWs(" ", w), 15)).toSeq
  }

  private def tokenHashes(width: Int): Any => Any = onTokens(_.map(t =>
    md5Prefix(if (t == null) "" else t, width / 4)))

  private val laws: Seq[Law] = Seq(
    Law(() => ShingleHashes(1), "graft_shingle_hash40", tokenArrays, shingles(1)),
    Law(() => ShingleHashes(3), "graft_shingle_hash40", tokenArrays, shingles(3)),
    Law(() => PositionedShingleHashes(2), "graft_positioned_shingle_hash60",
      tokenArrays, positioned(2)),
    Law(() => TokenHashes(40), "graft_token_hash40", tokenArrays, tokenHashes(40)),
    Law(() => TokenHashes(60), "graft_token_hash60", tokenArrays, tokenHashes(60)),
    Law(() => SubwordEncode(bpe), "graft_bpe_encode", tokenArrays, encodeModel(bpe)),
    Law(() => SubwordEncode(uni), "graft_unigram_encode", tokenArrays,
      encodeModel(uni)),
    Law(() => SubwordEncode(wp), "graft_wordpiece_encode", tokenArrays,
      encodeModel(wp)),
    Law(() => DecodePieces(false), "graft_piece_decode", nestedArrays,
      v => decodeModel(v.asInstanceOf[Seq[Seq[String]]], wordPiece = false)),
    Law(() => DecodePieces(true), "graft_piece_decode", nestedArrays,
      v => decodeModel(v.asInstanceOf[Seq[Seq[String]]], wordPiece = true)),
    Law(() => WordSymbols, "graft_wordpiece_symbols", null +: hostile,
      v => v.asInstanceOf[String].codePoints().toArray.toSeq.zipWithIndex
        .map { case (cp, i) =>
          (if (i == 0) "" else "##") + new String(Character.toChars(cp)) }))

  /** Scala collections of any flavour as Lists, for comparison. */
  private def norm(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case other                      => other
  }

  private def label(l: Law): String = s"${l.make()}"

  test("interpreted eval, generated code and the plain-Scala model agree") {
    // a separate session: codegen failures must throw here, not fall
    // back to interpretation silently, without changing the shared one
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    laws.foreach { l =>
      val k = l.make()
      val inType = k.inputType
      val expected = l.inputs.map(v => if (v == null) null else norm(l.model(v)))

      val ref = BoundReference(0, inType, nullable = true)
      val interpreted = l.inputs.map { v =>
        val out = KernelCall(ref, k).eval(
          InternalRow(CatalystTypeConverters.convertToCatalyst(v)))
        norm(CatalystTypeConverters.convertToScala(out, k.dataType))
      }
      assert(interpreted == expected, s"${label(l)}: interpreted eval")

      // an RDD source, so the optimizer cannot fold the projection into a
      // local relation and evaluate it before execution
      val df = s.createDataFrame(
        s.sparkContext.parallelize(l.inputs.map(v => Row(v)), 1),
        StructType(Seq(StructField("c", inType, nullable = true))))
        .select(KernelCall.column(col("c"), k))
      val plan = df.queryExecution.executedPlan
      assert(plan.isInstanceOf[WholeStageCodegenExec] &&
        plan.toString.contains(l.prettyName),
        s"${label(l)}: the kernel runs inside whole-stage codegen\n$plan")
      val generated = df.collect().map(r => norm(r.get(0))).toSeq
      assert(generated == expected, s"${label(l)}: generated code")
    }
  }

  test("SQL names, equality by parameters, models by reference") {
    val a = BoundReference(0, ArrayType(StringType), nullable = true)
    laws.foreach { l =>
      val (k1, k2) = (l.make(), l.make())
      assert(KernelCall(a, k1).prettyName == l.prettyName)
      assert(KernelCall(a, k1).semanticEquals(KernelCall(a, k2)), label(l))
      assert(KernelCall(a, k1).canonicalized == KernelCall(a, k2).canonicalized)
    }
    def differ(k1: Kernel[_, _], k2: Kernel[_, _]): Unit =
      assert(!KernelCall(a, k1).semanticEquals(KernelCall(a, k2)), s"$k1 vs $k2")
    differ(ShingleHashes(3), ShingleHashes(4))
    differ(TokenHashes(40), TokenHashes(60))
    differ(PositionedShingleHashes(2), PositionedShingleHashes(3))
    differ(DecodePieces(false), DecodePieces(true))
    differ(SubwordEncode(bpe), SubwordEncode(new BpeModel(bpe.merges)))
    differ(SubwordEncode(wp), SubwordEncode(new WordPieceModel(wp.vocab)))
  }

  test("a child of the wrong type fails analysis") {
    laws.foreach { l =>
      val k = l.make()
      val check = KernelCall(Literal(1), k).checkInputDataTypes()
      assert(check.isFailure, label(l))
    }
    val nested = KernelCall(Literal.create(null, ArrayType(StringType)),
      DecodePieces(false)).checkInputDataTypes()
    assert(nested.isFailure)
    assert(intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(KernelCall.column(col("id"), TokenHashes(40))).collect()
    }.getMessage.contains("graft_token_hash40"))
  }
}
