package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the large-scale training-data pipeline
  * surface (BASELINE.json north_star): token counting, quality scoring,
  * language-ID heuristics, fingerprinting. All are compositions of
  * built-in codegen'd functions — they run inside whole-stage codegen
  * and scale linearly with no shuffle.
  */
object TextFunctions {

  /** Whitespace tokenization, with Spark's `trim` and `split` quirks:
    * `trim` removes U+0020 only (not tabs or newlines), and `split` on
    * Java `\s+` (`[ \t\n\x0B\f\r]`; NBSP and other Unicode spaces are
    * not separators) keeps empty edge tokens, so `"\tab"` gives
    * `["", "ab"]` and `"ab\n"` gives `["ab", ""]`. Text that is empty
    * after trimming gives an empty array, null text null. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count (whitespace-delimited). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-regex token count, the way byte-pair pretokenizers
    * segment: letter runs, digit runs, and single non-space punctuation
    * marks each count as one token. The pattern is lookaround-free so
    * it is RE2-compatible (reproducible in the SQL oracle — DuckDB's
    * regex engine has no lookarounds). */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(bpeishPattern))

  /** Distinct-token ratio: |set(tokens)| / |tokens| — near-0 means
    * highly repetitive (low quality). Rounded for oracle stability. */
  def uniqueTokenRatio(text: Column): Column = {
    val ts = tokens(text)
    MysqlFunctions.oracleRound(size(array_distinct(ts)).cast("double") /
      greatest(size(ts), lit(1)).cast("double"), 4)
  }

  /** Mean token length in characters. */
  def meanTokenLength(text: Column): Column = {
    val ts = tokens(text)
    MysqlFunctions.oracleRound(aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(ts), lit(1)).cast("double"), 4)
  }

  /** Punctuation character ratio over total characters. */
  // Explicit ASCII ranges (= Java's \p{Punct}) so the SQL oracle's RE2
  // engine matches the same character set.
  val punctClass = "[!-/:-@\\[-`{-~]"
  def punctRatio(text: Column): Column =
    MysqlFunctions.oracleRound(
      (length(text) - length(regexp_replace(text, punctClass, ""))).cast("double") /
        greatest(length(text), lit(1)).cast("double"), 4)

  /** Stopword ratio against a small English stopword list — one of the
    * standard quality signals; also the core of the n-gram language-ID
    * heuristic below. */
  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be")

  def stopwordRatio(text: Column): Column = {
    val ts = tokens(lower(text))
    val sw = filter(ts, t => t.isin(englishStopwords: _*))
    MysqlFunctions.oracleRound(size(sw).cast("double") / greatest(size(ts), lit(1)).cast("double"), 4)
  }

  /** Composite quality score in [0,1]: blends repetition, token shape
    * and length signals. Deterministic and mirror-able in ANSI SQL. */
  def qualityScore(text: Column): Column = {
    val uniq = size(array_distinct(tokens(text))).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")
    val lenOk = when(length(text).between(20, 20000), lit(1.0)).otherwise(lit(0.5))
    MysqlFunctions.oracleRound(uniq * lit(0.7) + lenOk * lit(0.3), 4)
  }

  /** Language-ID heuristic: character-n-gram/stopword profile scoring.
    * With profiles for a fixed language set, returns the argmax language
    * code. The profiles are tiny built-in lists → the whole classifier
    * is a codegen'd expression, no UDF, no shuffle.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "les"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "pt" -> Seq("o", "a", "de", "que", "e"))

  def langId(text: Column): Column = {
    val ts = tokens(lower(text))
    // score per language = count of profile-word hits; argmax via
    // sort of (score desc, lang asc) structs — fully deterministic.
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct((-size(filter(ts, t => t.isin(words: _*)))).as("negScore"),
        lit(lang).as("lang"))
    }
    sort_array(array(scored: _*)).getItem(0).getField("lang")
  }

  /** Occurrence count of a LITERAL marker substring via replace-length
    * arithmetic — no regex engine, so the count is reproducible
    * verbatim in ANSI SQL (`(length(s) - length(replace(s, m, ''))) /
    * length(m)`) and stays inside whole-stage codegen. Overlapping
    * occurrences count non-overlapping-greedy, same as SQL replace. */
  def occurrences(c: Column, marker: String): Column = {
    require(marker.nonEmpty, "marker must be non-empty")
    ((length(c) - length(replace(c, lit(marker)))) / lit(marker.length))
      .cast("long")
  }

  /** Content fingerprint: md5 of normalized text (lowercase, collapsed
    * whitespace). Exact-dup detection key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Integer hash from an md5 hex prefix (`hexDigits` ≤ 15 keeps the
    * value < 2^60, safely inside a signed Long under ANSI mode).
    * Marginally slower than xxhash64 but reproducible in ANSI SQL
    * (`CAST('0x'||substr(md5(x),1,n) AS BIGINT)`), which makes every
    * sketch built on it verifiable against a SQL oracle — the reason
    * the MinHash/SimHash/rolling-hash family uses it.
    *
    * Native [[graft.expressions.Md5PrefixLong]] (`graft_md5_long`,
    * registered by `GraftExtensions`): digest → shift, no hex-string
    * materialization or base re-parse on the hottest per-row path. */
  def md5Int(c: Column, hexDigits: Int): Column = {
    require(hexDigits <= 15, "more than 15 hex digits overflows a signed Long")
    call_function("graft_md5_long", c, lit(hexDigits))
  }

  // ---- Unicode normalization ----

  /** NFC canonical composition via the native
    * [[graft.expressions.NfcNormalize]] (`graft_nfc`). */
  def nfc(c: Column): Column = call_function("graft_nfc", c)

  /** True iff already NFC (native quick-check `graft_is_nfc`). */
  def isNfc(c: Column): Column = call_function("graft_is_nfc", c)

  // ---- Multi-pattern (blocklist) scanning ----

  /** All-occurrence match counts (overlaps included) for a FIXED
    * pattern list, index-aligned array<long>: native Aho-Corasick
    * ([[graft.expressions.MultiPatternCounts]], `graft_ac_counts`), one
    * pass over the text regardless of pattern count. */
  def multiMatchCounts(c: Column, patterns: Seq[String]): Column =
    call_function("graft_ac_counts", c, array(patterns.map(lit): _*))

  // ---- PII scrubbing (emails / phone numbers) ----
  // Patterns are lookaround-free (RE2-compatible) so the SQL oracle's
  // regex engine matches the exact same spans; both engines replace
  // ALL occurrences (Spark regexp_replace default, DuckDB 'g' flag).
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9]{7,15}"

  /** Count of email-shaped spans. */
  def emailCount(text: Column): Column =
    regexp_count(text, lit(emailPattern)).cast("long")

  /** Count of international-format phone-number spans. */
  def phoneCount(text: Column): Column =
    regexp_count(text, lit(phonePattern)).cast("long")

  /** Redact emails and phone numbers to typed placeholder tokens — the
    * standard pre-training PII scrub step. Pure codegen regexp_replace
    * chain: linear, no shuffle, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Rolling (polynomial) hash over whitespace tokens — order-sensitive
    * document fingerprint, computed as a sequential fold (deterministic).
    * Modulus 2^31-1 keeps every intermediate within Long range under ANSI
    * mode: acc < 2^31 and each md5Int term < 2^32, so acc*1000003 + term
    * < 2^52 — no overflow before the `pmod` reduction. */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(1000003L) + md5Int(t, 8), lit(2147483647L)))
}
