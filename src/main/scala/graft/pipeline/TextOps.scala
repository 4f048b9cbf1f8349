package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, all built from
  * codegen'd built-in expressions (no UDFs — these run over every
  * document at 100 TB). Each has an ANSI-SQL twin in SparkEntry.oracleSql
  * so the driver can cross-check against DuckDB.
  */
object TextOps {

  /** The corpus word tokenizer: lower-case, split on `[^a-z0-9]+`, drop
    * the empty tokens. `""` gives an empty array, NULL stays NULL, and a
    * non-ASCII letter is a separator (`"Café"` → `caf`). Every
    * word-based operator uses this rule and every word-based oracle its
    * DuckDB twin [[wordsSql]], so the two engines tokenize alike.
    */
  def words(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** DuckDB twin of [[words]] over the SQL expression `text`. */
  def wordsSql(text: String): String =
    s"list_filter(regexp_split_to_array(lower($text), '[^a-z0-9]+'), x -> x <> '')"

  /** [[wordsSql]] over the `text` column. */
  def wordsSql: String = wordsSql("text")

  /** Whitespace token count, robust to empty strings. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** DuckDB twin of [[tokenCount]] over the `text` column. */
  def tokenCountSql: String = s"len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))"

  /** Subword vocabulary (common English affixes/merges). The segmenter
    * is greedy longest-match: the regex alternation is ordered longest-
    * first, and both java.util.regex (Spark) and RE2 (DuckDB) use
    * leftmost-FIRST ordered alternation, so segmentation — hence the
    * count — is bit-identical across engines.
    */
  val subwordVocab: Seq[String] = Seq(
    "ation", "ition", "ement", "ously", "inter", "under",
    "able", "ible", "ance", "ence", "ment", "ness", "tion", "sion",
    "ship", "hood", "ward", "wise", "less", "over", "anti",
    "ing", "ize", "ise", "ous", "ive", "ful", "est", "ers", "ion",
    "ate", "ent", "ant", "pre", "pro", "con", "com", "per", "sub",
    "out", "the", "and",
    "ed", "er", "ly", "un", "re", "in", "on", "at", "or", "an", "en",
    "es", "de", "al", "ic", "ar", "st", "th", "le", "nd", "nt", "te",
    "ra", "ro", "li", "ne"
  ).distinct.sortBy(p => (-p.length, p))

  /** Greedy longest-match alternation + single-char fallback. */
  val subwordPattern: String = "(" + (subwordVocab :+ "[a-z0-9]").mkString("|") + ")"

  /** Subword count: greedy longest-match segmentation of each word by a
    * vocabulary alternation `pattern` ([[subwordPattern]] or
    * [[Bpe.trainedVocabPattern]]), summed over the document. Codegen'd
    * built-ins only (regexp_extract_all in an array fold), no UDF.
    */
  def subwordCount(text: Column, pattern: String): Column = {
    // NULL text counts 0, matching the oracle's coalesce(..., 0)
    coalesce(aggregate(words(text), lit(0L),
      (acc, w) => acc + size(regexp_extract_all(w, lit(pattern))).cast("bigint")), lit(0L))
  }

  /** DuckDB twin of [[subwordCount]] over the `text` column. */
  private[graft] def subwordCountSql(pattern: String): String =
    s"""CAST(coalesce(list_sum(list_transform($wordsSql,
       |           w -> len(regexp_extract_all(w, '$pattern')))), 0) AS BIGINT)""".stripMargin

  /** GPT-2-style byte-pair-encoding PRE-TOKENIZER (the published
    * regex from the GPT-2 public release, simplified for cross-engine
    * replay: the `\s+(?!\S)` branch is dropped because RE2 — DuckDB's
    * engine — has no lookahead, so interior whitespace runs tokenize as
    * one run instead of run-minus-one; consistent in both engines).
    * Ordered alternation is leftmost-FIRST in both java.util.regex and
    * RE2, so the match sequence — hence the count — is bit-identical.
    * Whitespace is an EXPLICIT class because the engines' `\s` differ
    * by exactly one character: java's ASCII `\s` includes `\x0B`
    * (vertical tab), RE2's does not.
    */
  val bpePretokenPattern: String =
    "('s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+)"

  /** Pre-tokenizer token count per document — the cost model input of a
    * real BPE tokenizer (each pre-token is what BPE merges subdivide).
    */
  def bpePretokenCount(text: Column): Column =
    when(text.isNull, lit(0L))
      .otherwise(size(regexp_extract_all(text, lit(bpePretokenPattern))).cast("bigint"))

  /** Quality score as an integer in [0, 10000]: length band, alpha
    * ratio, punctuation ratio and stopword hit rate (heuristics in the
    * spirit of C4/Gopher quality filters). Integer arithmetic throughout
    * so the result is bit-identical across engines — no FP rounding
    * boundaries in the oracle compare.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text)
    val alpha = length(regexp_replace(text, "[^a-zA-Z]", ""))
    val punct = length(regexp_replace(text, "[^.,;:!?]", ""))
    val alphaPart = when(len > 0, floor(alpha * lit(4000.0) / len)).otherwise(0.0)
    val punctPart = lit(2000) - when(len > 0, least(floor(punct * lit(20000.0) / len), lit(2000.0))).otherwise(0.0)
    val lenScore = when(len >= 200 && len <= 4000, 2000).when(len >= 50, 1000).otherwise(0)
    val stop = stopwordHits(text, Seq("the", "and", "of", "to", "a"))
    val stopScore = when(stop >= 3, lit(2000)).when(stop >= 1, lit(1000)).otherwise(lit(0))
    (alphaPart + punctPart + lenScore + stopScore).cast("bigint")
  }

  def stopwordHits(text: Column, words: Seq[String]): Column =
    words.map(w => when(concat(lit(" "), lower(text), lit(" ")).contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _)

  /** n-gram-heuristic language ID over a tiny marker-word table;
    * deterministic argmax with fixed precedence order.
    */
  def langId(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "with", "this"),
      "de" -> Seq("der", "und", "nicht", "das"),
      "fr" -> Seq("le", "et", "les", "des"),
      "es" -> Seq("el", "que", "los", "una")
    )
    val scored = markers.map { case (l, ws) => (l, stopwordHits(text, ws)) }
    scored.foldRight(lit("und"): Column) { case ((l, score), acc) =>
      when(score >= 2, lit(l)).otherwise(acc)
    }
  }

  /** Document fingerprint: md5 of case/whitespace-normalized text —
    * stable under formatting-only edits; used for exact dedup.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** DuckDB twin of [[fingerprint]] over the `text` column. */
  def fingerprintSql: String = "md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
}
