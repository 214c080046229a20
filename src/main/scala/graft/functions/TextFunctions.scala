package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the documents pipeline.
  *
  * Everything here is a pure `Column` expression (codegen'd, no UDFs)
  * so it runs inside whole-stage codegen at 100 TB scan speed. Any
  * construct used by an oracle-checked query has an exact ANSI-SQL
  * twin in SparkEntry.oracleSql.
  */
object TextFunctions {

  /** Whitespace tokens (single-space corpus; keeps trailing empties,
    * same as DuckDB string_split). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** BPE-ish tokenizer: letter runs, digit runs, single punctuation.
    * regexp_count, not size(regexp_extract_all): counting avoids
    * materializing a per-match string array on every row.
    */
  val BpeTokenRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit(BpeTokenRe)).cast("int")

  /** Count of tokens that appear in `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => w.isin(words.map(x => x: Any): _*)))

  /** Non-alphanumeric, non-space character count. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[a-z0-9 ]", ""))

  /** Stopword sets per language for the lang-ID heuristic. */
  val StopEn = Seq("the", "a", "of", "and", "to")
  val StopDe = Seq("der", "die", "das", "und", "ein")
  val StopFr = Seq("le", "la", "les", "et", "un")
  val StopEs = Seq("el", "los", "las", "y", "una")

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Normalized-content md5 fingerprint. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))
}
