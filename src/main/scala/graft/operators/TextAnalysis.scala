package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY §2.3
  * rows 37-40): token counting, quality scoring, marker-based
  * language ID, and document fingerprinting (md5 + winnowing).
  * Everything is pure column expressions — narrow, codegen, zero
  * shuffle at any scale.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wsTokens(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token estimate: word-piece regex tokens (letter runs,
    * digit runs, single punctuation) — a cheap proxy for subword
    * tokenizers.
    */
  def regexTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** ~4 chars/token heuristic estimate. */
  def charEstimateTokens(text: Column): Column =
    ceil(length(text).cast("double") / 4).cast("long")

  /** Quality signals: length, punctuation ratio, stopword ratio, mean
    * word length, alpha-char ratio.
    */
  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "in", "and", "is", "it", "for")

  /** One-pass codegen-friendly expressions (graft.functions): the
    * `filter`/`aggregate` higher-order-function formulations evaluate
    * interpreted with per-element boxing (SURVEY §8) — wrong for a
    * per-document hot path.
    */
  def stopwordRatio(text: Column): Column =
    graft.functions.GraftFunctions.markerRatio(text, Stopwords)

  def meanWordLen(text: Column): Column =
    graft.functions.GraftFunctions.meanWordLen(text)

  def alphaRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Marker-stopword language ID: score = fraction of words that are
    * language markers; argmax wins, ties broken by language code order.
    * An n-gram-free heuristic that stays a pure expression; the marker
    * lists are the model.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "it"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "y"),
    "fr" -> Seq("le", "la", "les", "est", "un", "une", "et", "dans"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"),
  )

  /** (language, score) with the highest marker score; first language in
    * code order wins ties. One tokenization pass over the text for all
    * languages (graft_langid expression).
    */
  def langId(text: Column): Column =
    graft.functions.GraftFunctions.langId(text, LangMarkers)

  /** Winnowing fingerprint count (Schleimer et al., MOSS): md5 each
    * char k-gram, take the window minimum over `w` consecutive
    * k-grams (lexicographic on the hex — stable across engines), count
    * distinct selected fingerprints. One-pass expression — the nested
    * transform/array_min/slice formulation evaluated one interpreted
    * md5 Expression per char position.
    */
  def winnowCount(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.functions.GraftFunctions.winnowCount(text, k, w)
}
