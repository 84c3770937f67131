package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Analyzer: deterministic text normalization/tokenization shared by every
  * search operator — the engine's stand-in for the reference's ES `standard`
  * analyzer (`/root/reference/src/elasticsearch_ingest.py:94-104` mapping,
  * `/root/reference/src/api.py:124` driver-side tokenization).
  */
object Analyzer {
  def normalize(c: Column): Column = lower(trim(c))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalize(c), "\\s+")

  /** The reference keeps only title keywords with len > 3 for the fallback
    * search (`api.py:124`).
    */
  def keywords(c: Column, minLen: Int = 4): Column =
    filter(tokens(c), t => length(t) >= minLen)

  /** Driver-side twin for query strings. */
  def keywordsOf(q: String, minLen: Int = 4): Seq[String] =
    q.toLowerCase.trim.split("\\s+").toSeq.filter(_.length >= minLen)
}

/** Relevance scoring as pure `Column` builders (SURVEY §2.8) — everything
  * stays inside whole-stage codegen; no UDFs.
  *
  * The engine intentionally does NOT clone BM25 (`SURVEY §7.5.1`): scores are
  * deterministic match counts with field boosts, ties broken by document id
  * at the query layer, so results hash stably for the DuckDB oracle.
  */
object Scoring {

  /** Q1 `match_phrase`: analyzer-normalized phrase containment. */
  def phraseMatch(field: Column, phrase: String): Column =
    Analyzer.normalize(field).contains(phrase.toLowerCase.trim)

  /** Driver-side twin of [[phraseMatch]] over a field already normalized
    * by [[Analyzer.normalize]] (null: no match).
    */
  def phraseMatchOf(normalized: UTF8String, phrase: String): Boolean =
    normalized != null && normalized.contains(UTF8String.fromString(phrase.toLowerCase.trim))

  /** Q5 `bool should`: number of query terms contained in the field
    * (normalized). `minimum_should_match` is a `>= n` filter on this.
    */
  def shouldMatchCount(field: Column, terms: Seq[String]): Column =
    terms
      .map(t => when(Analyzer.normalize(field).contains(t.toLowerCase), 1).otherwise(0))
      .reduce(_ + _)

  /** Driver-side twin of [[shouldMatchCount]] over a normalized field. */
  def shouldMatchCountOf(normalized: UTF8String, terms: Seq[String]): Int =
    if (normalized == null) 0
    else terms.count(t => normalized.contains(UTF8String.fromString(t.toLowerCase)))

  /** Q7 `multi_match` with per-field boosts: Σ_fields boost_f × matches_f. */
  def multiMatch(terms: Seq[String], fields: Seq[(Column, Int)]): Column =
    fields
      .map { case (f, boost) => shouldMatchCount(f, terms) * lit(boost) }
      .reduce(_ + _)

  /** ES fuzziness "AUTO" edit-distance budget by term length:
    * 0 edits below 3 chars, 1 for 3–5, 2 above (`api.py:216` semantics).
    */
  def autoFuzz(len: Int): Int = if (len < 3) 0 else if (len <= 5) 1 else 2

  /** Edit-distance-within-budget predicate. Uses the thresholded
    * levenshtein (early-exits once the running distance exceeds the budget
    * — O(len×budget) instead of O(len²), the variant that matters when this
    * runs per token over a 100 TB corpus). Budget 0 degenerates to equality.
    */
  private def withinEdits(a: Column, b: Column, budget: Int): Column =
    if (budget <= 0) a === b
    else levenshtein(a, b, budget) =!= -1

  /** Q10 fuzzy term match under the AUTO budget. */
  def fuzzyMatch(field: Column, term: String): Column =
    withinEdits(Analyzer.normalize(field), lit(term.toLowerCase), autoFuzz(term.length))

  /** Q7 full form: multi-field fuzzy match — a term scores on a field if any
    * field TOKEN is within the AUTO edit budget; boosted per field.
    * Token-level levenshtein via `exists` over the token array (codegen'd
    * higher-order function, no UDF).
    */
  def fuzzyMultiMatch(terms: Seq[String], fields: Seq[(Column, Int)]): Column =
    fields.map { case (f, boost) =>
      val toks = Analyzer.tokens(f)
      terms.map { term =>
        val budget = autoFuzz(term.length)
        when(exists(toks, t => withinEdits(t, lit(term.toLowerCase), budget)), boost)
          .otherwise(0)
      }.reduce(_ + _)
    }.reduce(_ + _)

  /** Driver-side twin of the token test inside [[fuzzyMultiMatch]]: a
    * token within `term`'s AUTO budget, with the same equality at budget 0
    * and the same thresholded levenshtein kernel Spark's `levenshtein`
    * calls. `term` is already lowercased.
    */
  def withinAutoFuzzOf(token: UTF8String, term: UTF8String, budget: Int): Boolean =
    if (budget <= 0) token == term else token.levenshteinDistance(term, budget) != -1

  /** Q3 genre-overlap relevance: |field ∩ queryTerms| (array column form). */
  def overlapScore(field: Column, queryTerms: Seq[String]): Column =
    size(array_intersect(field, array(queryTerms.map(lit(_)): _*)))

  /** Driver-side twin of [[overlapScore]]: the distinct field elements
    * among the query terms (a null field never scores).
    */
  def overlapScoreOf(field: Seq[String], queryTerms: Seq[String]): Int =
    if (field == null) 0 else field.distinct.count(queryTerms.contains)
}
