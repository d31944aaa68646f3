package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Hashing._

/** Text-analysis scalar pack for large-scale training-data pipelines:
  * tokenization, quality counters, language-ID heuristic, and cleanup
  * (the document fingerprint is the graft_fingerprint kernel). Pure `org.apache.spark.sql.functions` compositions —
  * everything stays inside whole-stage codegen; no UDFs, no shuffles.
  */
object Text {

  /** Whitespace tokens (single-space separated corpus). */
  def tokens(text: Column): Column = split(text, " ", -1)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Exact integer word code shared with the SQL oracles:
    * length(w) * WordBase + ascii(first char). */
  def wordCode(w: Column): Column =
    (length(w).cast(LongType) * WordBase + ascii(w).cast(LongType))

  /** Count of tokens found in `stopwords`. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(stopwords.map(x => x: Any): _*)))

  /** Quality counters: basis-point stopword ratio computed with exact
    * integer flooring so it hash-matches any ANSI SQL engine. */
  def stopRatioBp(text: Column, stopwords: Seq[String]): Column =
    floor(
      stopwordCount(text, stopwords).cast(DoubleType) * 10000d /
        tokenCount(text).cast(DoubleType)).cast(LongType)

  /** Mean token length in basis points (text-quality signal: gibberish and
    * boilerplate skew short/long). */
  def meanTokenLenBp(text: Column): Column =
    floor(
      aggregate(tokens(text), lit(0L), (acc, w) => acc + length(w).cast(LongType))
        .cast(DoubleType) * 10000d / tokenCount(text).cast(DoubleType))
      .cast(LongType)

  /** Tiny per-language marker sets for the n-gram/stopword language-ID
    * heuristic. Public-knowledge function words only. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language-ID heuristic: argmax of marker-word hits, ties broken by the
    * declaration order above; `und` when no marker hits. Deterministic and
    * SQL-expressible. */
  def langIdHeuristic(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(tokens(text), w => w.isin(markers.map(x => x: Any): _*)))
    }
    // strictly-greater chain implements first-declared-wins on ties
    val best = scores.foldLeft[(Column, Column)]((lit("und"), lit(0))) {
      case ((bl, bs), (lang, s)) => (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    best._1
  }

  /** BPE-ish subword regex shared with the SQL oracle: letter runs, single
    * digits, or single non-alphanumeric marks — the shape of a byte-pair
    * tokenizer's pre-tokenization split. */
  val BpePattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"

  /** Token count under the BPE-ish regex (vs whitespace tokenCount). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Email-ish and phone-ish patterns for PII redaction. Deliberately
    * simple and SQL-portable; production pipelines would layer real
    * validators on the same plumbing. */
  val EmailPattern = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+"
  val PhonePattern = "\\+?[0-9]{1,3}-[0-9]{3,4}-[0-9]{4}"

  /** Replace PII-shaped spans with typed placeholder tags. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Count of PII-shaped spans (before redaction). */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(text, lit(PhonePattern), lit(0)))

  // ------------------------------------------------------------- cleanup

  /** Crude tag stripper: removes <...> spans (the boilerplate-removal
    * first pass of a web-scrape pipeline; a real extractor would parse). */
  def stripHtml(text: Column): Column =
    regexp_replace(text, "<[^>]*>", "")

  /** Removes http(s) URLs (token-polluting, often PII-bearing). */
  def stripUrls(text: Column): Column =
    regexp_replace(text, "https?://[^ ]+", "")

  /** Collapses whitespace runs to single spaces and trims — restores the
    * single-space token model after stripping. The class is ALL ASCII
    * whitespace, spelled explicitly (not `\s`): scraped text carries
    * tabs/newlines that a space-only collapse would leave as merged
    * tokens (undercounting n_tokens, hiding lang-id markers), and Java's
    * `\s` includes \x0B where RE2's (the oracle engine's) does not — the
    * shared explicit class keeps both engines byte-identical. */
  def normalizeWs(text: Column): Column =
    trim(regexp_replace(text, "[ \\t\\n\\r\\f\\x0B]+", " "))

  /** First `maxTokens` whitespace tokens re-joined — the context-window
    * truncation step. Pure array ops, stays in codegen. */
  def truncateTokens(text: Column, maxTokens: Int): Column =
    concat_ws(" ", slice(tokens(text), 1, maxTokens))
}
