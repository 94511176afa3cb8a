package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: tokenization,
  * token statistics, quality scoring, language-ID heuristics, document
  * fingerprints. All pure column expressions (whole-stage codegen; no UDFs)
  * so they run at full scan speed over 100 TB of documents.
  */
object TextFunctions {

  /** Whitespace tokenizer (runs of whitespace collapse; no empty tokens). */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, and single
    * non-alphanumeric marks as separate tokens — the usual pre-tokenization
    * shape. Expressed as an alternation extract (RE2-compatible: no
    * lookarounds), so the same pattern runs in any regex engine.
    */
  val bpeishPattern = "[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s]"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Type-token ratio: distinct/total — a standard lexical-diversity and
    * boilerplate signal.
    */
  def typeTokenRatio(text: Column): Column =
    distinctTokenCount(text).cast("double") / tokenCount(text)

  /** Fraction of tokens that are in `markers` (e.g. stopwords). */
  def markerRatio(text: Column, markers: Seq[String]): Column = {
    val m = array(markers.map(lit): _*)
    size(filter(tokens(text), t => array_contains(m, t))).cast("double") /
      tokenCount(text)
  }

  /** Tiny public stopword lists per language for the n-gram/stopword
    * language-ID heuristic. (Marker-token approach: the language whose
    * stopwords cover the largest token fraction wins.)
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"))

  /** Language-ID: argmax over per-language stopword coverage; `default` when
    * nothing scores above `minRatio`.
    */
  def langId(text: Column, minRatio: Double = 0.02, default: String = "und"): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      (lang, markerRatio(text, words))
    }
    // expression-level argmax over a fixed small set; ties go to the
    // alphabetically-first language (deterministic)
    val maxScore = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.foldRight(lit(default)) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore >= lit(minRatio), lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Per-language stopword coverage score (exposed for inspection). */
  def langScore(text: Column, lang: String): Column =
    markerRatio(text, stopwords(lang))

  /** Heuristic quality score in [0,1]: length window + lexical diversity +
    * alpha ratio. The standard cheap pre-filter shape for corpus curation.
    */
  def qualityScore(text: Column,
                   minChars: Int = 50, maxChars: Int = 20000): Column = {
    val nChars = length(text)
    val lenOk = when(nChars.between(minChars, maxChars), 1.0).otherwise(0.0)
    val ttr = typeTokenRatio(text)
    val alphaRatio =
      length(regexp_replace(text, "[^\\p{L}]", "")).cast("double") /
        greatest(nChars, lit(1)).cast("double")
    (lenOk * 0.4 + least(ttr, lit(1.0)) * 0.3 + alphaRatio * 0.3)
  }

  /** RE2-safe PII patterns (no lookarounds), shared verbatim with the
    * DuckDB oracle so redaction replays cross-engine.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone shape = 9-15 digits with at most 2 separator chars between
    * consecutive digits. The digit-COUNT floor (not a raw char-run length)
    * keeps dates (8 digits), short ids, and "10000 - 20000" ranges (3-char
    * separator) out of the redaction blast radius.
    */
  val phonePattern = "\\+?[0-9]([()\\-\\s]{0,2}[0-9]){8,14}"

  /** PII scrubbing for training corpora: replace email addresses and
    * phone-number-shaped digit runs with typed placeholder tokens.
    * Pure codegen'd `regexp_replace` chain (compiled pattern cached per
    * task) — scan-speed, no shuffle. Emails first so their digits can't be
    * half-eaten by the phone pattern.
    */
  def redactPii(text: Column, emailToken: String = "<EMAIL>",
                phoneToken: String = "<PHONE>"): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, emailToken),
      phonePattern, phoneToken)

  /** Dedup-grade normalization (the C4/RefinedWeb step before
    * fingerprinting): casefold, collapse every non-letter/digit run to one
    * space, trim. RE2-safe pattern shared verbatim with the SQL oracle.
    * Compose with [[fingerprint64]] (or feed a normalized column to the
    * exact-dedup operators) to collapse case/punctuation/whitespace
    * variants that byte-exact dedup misses.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(lower(text), "[^\\p{L}0-9]+", " "))

  /** 64-bit document fingerprint (xxhash64 of the full text) — exact-dup
    * key at 8 bytes/doc.
    */
  def fingerprint64(text: Column): Column = xxhash64(text)

  /** Word n-gram shingles (distinct), the MinHash/Jaccard input unit.
    * Native single-pass kernel (see [[graft.expressions.WordShingles]]);
    * [[shinglesComposable]] is the built-in-only formulation it must match.
    */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.WordShingles.shingles(text, n)

  /** RE2-safe URL-domain pattern (no lookarounds — the exact same pattern
    * runs in DuckDB for the oracle): capture group 1 is the authority up
    * to the first `/` or space.
    */
  val urlDomainPattern = "https?://([^/ ]+)"

  /** All URL domains mentioned in `text` (web-curation staple: domain
    * blocklists, per-domain quality priors, source attribution). Pure
    * codegen'd regexp extraction — scan speed, no shuffle.
    */
  def urlDomains(text: Column): Column =
    regexp_extract_all(text, lit(urlDomainPattern), lit(1))

  /** Canonical blocklist-matching form of an extracted authority:
    * lowercase, trailing `:port` stripped, one leading `www.` stripped.
    * Plain lower + two anchored regexp_replace — replays identically in
    * any ANSI engine (the q5n oracle runs the same three calls).
    */
  def normalizeDomain(domain: Column): Column =
    regexp_replace(
      regexp_replace(lower(domain), lit(":[0-9]+$"), lit("")),
      lit("^www\\."), lit(""))

  /** Reference formulation of [[shingles]] from composable built-ins
    * (interpreted lambdas — slower; kept as the semantic oracle for the
    * native kernel's bit-equality spec).
    */
  def shinglesComposable(text: Column, n: Int): Column = {
    val t = tokens(text)
    array_distinct(
      when(size(t) < n, array(concat_ws(" ", t)))
        .otherwise(transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n))))))
  }
}
