package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.expr.{KernelCall, SubwordEncode, SubwordModel}

/** The scan side of the trained tokenizers ([[Bpe]], [[Unigram]],
  * [[WordPiece]]): encode with the model as the kernel's reference object,
  * and the corpus round-trip the oracle hash-gates.
  */
trait Tokenizer[M <: SubwordModel] {

  /** Per-token nested pieces column: `array<array<string>>` aligned with
    * the token array of `textCol`.
    */
  def pieces(textCol: Column, model: M): Column =
    KernelCall.column(T.tokens(T.normalized(textCol)), SubwordEncode(model))

  /** One token's text from its pieces. */
  protected def joinPieces(ps: Column): Column = concat_ws("", ps)

  /** Encode a corpus: (idCol, n_tokens, n_pieces, decoded) where decoded
    * is the exact reconstruction (pieces joined per token, tokens joined
    * by ' ') — equal to the normalized text by construction, which is
    * what the oracle hash-gates: any encode bug that loses or
    * reorders a single character anywhere in the corpus breaks the gate.
    * n_pieces is the subword cost the ceil(len/6) proxy approximated.
    */
  def encodeStats(df: DataFrame, idCol: String, textCol: String,
                  model: M): DataFrame = {
    import graft.core.Cols.{q => Q}
    df.select(Q(idCol), pieces(Q(textCol), model).as("ps"))
      .select(Q(idCol),
        size(col("ps")).cast("long").as("n_tokens"),
        size(flatten(col("ps"))).cast("long").as("n_pieces"),
        concat_ws(" ", transform(col("ps"), x => joinPieces(x))).as("decoded"))
  }
}
