package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expr.{KernelCall, StringArrayEntropyFp, UnicodeNormalize, Utf8EntropyFp}

/** Text-analysis functions for training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting. All pure Column
  * combinators over Spark built-ins — fully codegen'd, no UDFs, so a 100 TB
  * text-cleaning pass stays inside whole-stage codegen over the scan.
  *
  * Every formula is arithmetic-replicable in ANSI SQL (same operation
  * order), which is how the DuckDB oracle verifies them.
  */
object TextFunctions {

  /** Whitespace tokens (empty input → empty array, not [""]).
    * split() emits "" at a leading/trailing delimiter and Spark's trim
    * strips U+0020 ONLY — so the old trim-then-split produced a phantom ""
    * token for every \t/\n-bounded document (real-world text usually ends
    * in \n). Removing empties after the split handles every boundary.
    */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def charCount(text: Column): Column = length(text).cast("long")

  /** distinct tokens / tokens — crude vocabulary-diversity signal. */
  def distinctRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  /** Fraction of tokens that are (lowercased) English stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]:
    * 0.4·min(1, chars/400) + 0.4·distinct_ratio + 0.2·stopword presence
    * band (ratio in [0.05, 0.6] is "natural text").
    * A C4/Gopher-style heuristic family, exact-replicable in SQL.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(lit(1.0), charCount(text).cast("double") / 400.0)
    val stop = stopwordRatio(text)
    val stopBand = when(stop >= 0.05 && stop <= 0.6, 1.0).otherwise(0.0)
    lenScore * 0.4 + distinctRatio(text) * 0.4 + stopBand * 0.2
  }

  /** The Gopher quality rules (Rae et al. 2021, §A1.1) as named per-rule
    * signals — the standard web-corpus document gate, kept as individual
    * columns so a pipeline can tune thresholds or audit WHY a document
    * dropped (the composite [[qualityScore]] cannot say). All counts and
    * ratios are exact integer/double arithmetic — replayable in SQL.
    *
    * Returns a struct:
    *   n_words           whitespace tokens
    *   mean_word_len     sum(len)/n (null for empty docs)
    *   symbol_ratio      ('#' or '…' occurrences) / words
    *   bullet_line_frac  lines starting with a bullet (• or "- ")
    *   ellipsis_line_frac lines ending in '…' or "..."
    *   alpha_word_frac   words containing at least one [a-zA-Z]
    *   n_stop_hits       distinct hits in the 8-word Gopher stop set
    *   passes            the full conjunction at the paper's thresholds:
    *                     50 ≤ words ≤ 100000, 3 ≤ mean len ≤ 10,
    *                     symbol_ratio ≤ 0.1, bullet lines ≤ 10%,
    *                     ellipsis lines ≤ 30%, alpha words ≥ 80%,
    *                     stop hits ≥ 2
    *
    * Scale: scan-side array arithmetic over the token/line splits — no
    * UDF, no shuffle.
    */
  def gopherFlags(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val nD = n.cast("double")
    val meanLen = when(n > 0,
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / nD)
    val symbols = (length(text) -
      length(regexp_replace(text, "[#…]", ""))).cast("double")
    val symbolRatio = when(n > 0, symbols / nD)
    val lines = split(text, "\r?\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines, l =>
      trim(l).startsWith("•") || trim(l).startsWith("- "))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l =>
      trim(l).endsWith("…") || trim(l).endsWith("..."))).cast("double") / nLines
    val alphaFrac = when(n > 0,
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / nD)
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(array_intersect(
      array_distinct(tokens(lower(text))),
      array(gopherStops.map(lit): _*))).cast("long")
    val passes = n >= 50 && n <= 100000 &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symbolRatio <= 0.1 &&
      bulletFrac <= 0.1 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2
    struct(
      n.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.as("n_stop_hits"),
      coalesce(passes, lit(false)).as("passes"))
  }

  /** Language marker words (high-frequency function words per language). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Count occurrences of marker tokens for one language. */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => t.isin(markers: _*))).cast("long")
  }

  /** n-gram-heuristic language ID: argmax of marker-token counts; ties and
    * all-zero → "und" (undetermined). Deterministic: first language in
    * `LangMarkers` order wins ties.
    */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => (lang, langScore(text, ms)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Whitespace-normalized lowercase form used by fingerprints. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** 60-bit content fingerprint: md5 of the normalized text (oracle:
    * ('0x'||substr(md5(norm),1,15))::BIGINT ).
    */
  def fingerprint(text: Column): Column =
    conv(substring(md5(normalized(text)), 1, 15), 16, 10).cast("long")

  /** 60-bit per-token hash used by the rolling hash family. */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** 40-bit per-token hash for the minhash/simhash sketches: small enough
    * that per-slot mixing `(a·h+b) mod 2^40` stays inside int64 on both
    * Spark and the DuckDB oracle (`('0x'||substr(md5(t),1,10))::BIGINT`).
    */
  def tokenHash40(t: Column): Column =
    conv(substring(md5(t), 1, 10), 16, 10).cast("long")

  /** Order-sensitive rolling hash over the token stream:
    * acc' = (acc·31 + h(token)) mod 2^40. Stays within int64 (31·2^40 +
    * 2^60 < 2^63) so both engines wrap identically — a streaming document
    * fingerprint that, unlike md5-of-text, is incrementally computable.
    */
  def rollingHash(text: Column): Column = {
    val hs = transform(tokens(normalized(text)), t => tokenHash(t))
    aggregate(hs, lit(0L), (acc, h) => (acc * 31L + h) % 1099511627776L)
  }

  /** BPE-ish subword count: each normalized token contributes ⌈len/6⌉
    * pieces — a cheap deterministic proxy for tokenizer cost (real BPE
    * needs a vocab file; the *count* contract is what pipelines budget
    * with). Pure integer arithmetic, bit-replicable in any SQL engine.
    */
  def subwordCount(text: Column): Column =
    coalesce(
      aggregate(tokens(normalized(text)), lit(0L),
        (acc, t) => acc + floor((length(t) + 5) / lit(6)).cast("long")),
      lit(0L))

  // ---- PII / boilerplate scrubbing ----
  // Patterns deliberately restricted to syntax shared by Java regex and
  // RE2 (DuckDB), so the oracle replays them byte-for-byte: character
  // classes, bounded repetition, no lookaround/backrefs.

  /** user@host.tld — local part then dotted domain with a ≥2-letter TLD. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** http(s) URL up to the next whitespace. */
  val UrlRe = "https?://[^\\s]+"
  /** NANP-style dashed phone: 3-3-4 or 3-4 digit groups. */
  val PhoneRe = "[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe)).cast("long")
  def urlCount(text: Column): Column = regexp_count(text, lit(UrlRe)).cast("long")
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe)).cast("long")

  /** Replace emails/URLs/phones with typed placeholder tokens (the
    * standard pre-training scrub: remove the PII, keep the syntactic
    * slot). Email runs before URL so `mailto:`-less addresses inside a
    * URL tail do not split the URL placeholder; the counts above are
    * taken on the RAW text for audit columns.
    *
    * Scale: three codegen'd regexp passes over the scan — no UDF, no
    * shuffle; the patterns are linear-time (no catastrophic backtracking
    * constructs).
    */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noUrl = regexp_replace(noEmail, UrlRe, "<URL>")
    regexp_replace(noUrl, PhoneRe, "<PHONE>")
  }

  /** C4-style line filter (Raffel et al. 2020 §2.2 heuristics, the
    * line-level half): keep only lines that end in terminal punctuation
    * and carry at least `minWords` whitespace words — dropping the nav
    * bars, button labels, and cookie banners that survive tag stripping.
    * Returns the kept lines as an array; compose with concat_ws to
    * rebuild the document. Scan-side array ops, no UDF.
    *
    * Splits on `\r?\n` so CRLF text behaves like LF text: with a bare
    * `\n` split a Windows line keeps its trailing `\r`, and Java's `$`
    * (which matches BEFORE a final terminator) would pass "foo.\r"
    * through the punctuation gate while RE2's end-of-string `$` (the
    * DuckDB oracle) rejects it — an engine divergence, and the kept
    * lines would carry stray `\r` bytes into the rebuilt document.
    */
  def c4KeptLines(text: Column, minWords: Int): Column =
    filter(split(text, "\r?\n"), l =>
      trim(l).rlike("[.!?\"]$") && (size(tokens(trim(l))) >= minWords))

  /** Unicode normalization (default NFC): composed/decomposed spellings of
    * the same grapheme become byte-identical before tokenization and
    * fingerprinting. A kernel (graft.expr.UnicodeNormalize) with an
    * isNormalized fast path — no allocation for already-normal text.
    */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    KernelCall.column(text, UnicodeNormalize(form))

  /** Integer-exact code-point entropy struct(n, ent_fp) of the RAW text —
    * gibberish / binary-ish / boilerplate-repetition quality signal in
    * fixed-point log2 units (n·H·2^20). See [[graft.expr.EntropyFp]].
    */
  def charEntropyFp(text: Column): Column =
    KernelCall.column(text, Utf8EntropyFp)

  /** Integer-exact entropy struct(n, ent_fp) over the normalized token
    * multiset — the vocabulary-diversity gate (a distinct-token RATIO
    * can't tell a two-token coin-flip document from a uniform-vocabulary
    * one; entropy can).
    */
  def tokenEntropyFp(text: Column): Column =
    KernelCall.column(tokens(normalized(text)), StringArrayEntropyFp)

  /** HTML → text: drop script/style ELEMENTS (content included), strip
    * remaining tags to a space, decode the five predefined entities +
    * nbsp/#39 (amp LAST, so `&amp;lt;` decodes to `&lt;` not `<`), and
    * collapse whitespace. The web-corpus boilerplate-removal baseline —
    * all RE2-compatible regexes (non-greedy, no backreferences: script and
    * style get separate patterns), so the oracle replays it verbatim.
    *
    * Known lossy behavior of the regex-stripper baseline: an UNESCAPED
    * '<' in body text consumes everything up to the next '>' as if it
    * were a tag ("x < 3 and y > 2" loses "< 3 and y >"). That is inherent
    * to tag-soup regex stripping — real pipelines route pre-escaped or
    * non-HTML text around this operator; an HTML parser is out of scope.
    *
    * Scale: a fixed chain of codegen'd regexp passes over the scan — no
    * UDF, no shuffle, each pattern linear-time.
    */
  def stripHtml(text: Column): Column = {
    // (?is): HTML tag names are case-insensitive — '<SCRIPT>' must drop its
    // content exactly like '<script>', or the code LEAKS into the cleaned
    // text once the tag-strip pass removes only the markers
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
