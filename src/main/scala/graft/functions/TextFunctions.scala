package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data pipeline
  * (language-ID, quality scoring, token counting, fingerprinting).
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (higher-order array functions) — no Scala UDFs — so the whole
  * document pass stays inside WholeStageCodegen and scales linearly
  * with the corpus.
  */
object TextFunctions {

  /** Whitespace tokens: non-empty `\s+`-separated tokens. The
    * empty-token filter makes the definition whitespace-kind-proof
    * (leading tabs/newlines would otherwise yield a "" token, because
    * trim() strips only spaces) and matches both the native
    * `WordShingles` kernel and the DuckDB oracle form
    * `list_filter(string_split_regex(text,'\s+'), t -> t <> '')`.
    */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** DuckDB rendering of the same tokenization (for oracle SQL). */
  val wsTokensSql: String =
    """list_filter(string_split_regex(text, '\s+'), t -> t <> '')"""

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish sub-token extraction: letter runs, digit runs, single
    * punctuation — the standard pre-tokenizer shape for byte-pair
    * encoders. RE2-compatible pattern (no backrefs) so the DuckDB
    * oracle can run the identical regex.
    */
  val bpeIshPattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  def bpeIshTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeIshPattern), lit(0))

  /** Count of tokens belonging to a fixed vocabulary (native codegen'd
    * kernel — see `graft.functions.TokensInSet`).
    */
  def tokensInSet(tokens: Column, vocab: Seq[String]): Column =
    exprs.tokens_in_set(tokens, vocab)

  /** Declarative reference form, kept for cross-checking the kernel. */
  def tokensInSetFold(tokens: Column, vocab: Seq[String]): Column =
    size(filter(tokens, t => t.isin(vocab.map(v => v: Any): _*)))

  /** Polynomial rolling hash (Rabin–Karp) of a string:
    * h = fold(chars, 0, (acc, c) => (acc * 31 + ascii(c)) mod 1e9+7).
    * Declarative reference form, ASCII-only: Spark's `ascii()` returns
    * the first UTF-8 *byte* for non-ASCII characters, whereas the
    * native `RollingHash` kernel (and DuckDB's ascii()) use the code
    * point — production code and t05 use the kernel, which is the
    * one matching the oracle on any input.
    */
  def rollingHash(text: Column): Column =
    aggregate(
      // drop the trailing "" Java's split-with-limit=-1 can emit
      filter(split(text, ""), c => length(c) > 0),
      lit(0L),
      (acc, c) => (acc * lit(31L) + ascii(c)) % lit(1000000007L))

  /** Language marker vocabularies (tiny stopword lists per language —
    * the classic n-gram/stopword heuristic for language ID).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"))

  /** English stopwords used by the quality score. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "is", "in", "it", "that")

  /** Composite heuristic quality score (t03's formula), rounded 4 dp:
    * 0 for degenerate (<5-token) docs, else
    * 1 − |stopword_ratio − 0.4| − punct_ratio. Shared by t03 and the
    * d12 canonical-selection query so the two cannot drift; the ≥5
    * token guard also guarantees the divisors are nonzero, so the
    * score is never NULL.
    */
  def qualityScore(text: Column): Column = {
    val toks = wsTokens(text)
    val nToks = size(toks).cast("double")
    val stopHits = tokensInSet(toks, stopwords).cast("double")
    val punct = length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double")
    round(
      when(nToks < 5, 0.0).otherwise(
        lit(1.0) - abs(stopHits / nToks - lit(0.4)) - punct / length(text)),
      4)
  }

  /** DuckDB rendering of the same score (for oracle SQL); the stopword
    * list is interpolated from [[stopwords]] so it can't drift either.
    */
  val qualityScoreSql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(",")
    s"""round(CASE WHEN len($wsTokensSql) < 5 THEN 0.0
          ELSE 1.0
            - abs(len(list_filter($wsTokensSql,
                t -> t IN ($stopList)))
              * 1.0 / len($wsTokensSql) - 0.4)
            - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text)
          END, 4)"""
  }
}
