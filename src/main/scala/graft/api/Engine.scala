package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.search.{Analyzer, Scoring}
import graft.sources.Store

/** Endpoint-equivalent query layer — each reference Flask route
  * (`/root/reference/src/api.py`) compiles to a DataFrame expression over
  * the movies table; Catalyst executes it. No ES, no driver-side scoring.
  *
  * Ordering is deterministic everywhere: relevance desc, then movieId asc —
  * the engine's documented replacement for BM25 `_score` ordering
  * (SURVEY §7.5.1).
  */
object Engine {

  /** Result of the recommend flow, mirroring `api.py:74-162`'s branches. */
  sealed trait RecommendResult
  final case class NotFound(title: String) extends RecommendResult
  final case class Disambiguation(candidates: Seq[(Int, String)]) extends RecommendResult
  final case class Recommendations(forMovie: (Int, String), recs: DataFrame) extends RecommendResult

  /** Q1: phrase-match title lookup, top-5 by deterministic order
    * (`api.py:91-93`).
    */
  def findByTitle(movies: DataFrame, title: String): DataFrame =
    movies
      .filter(Scoring.phraseMatch(col("title"), title))
      .orderBy(col("movieId"))
      .limit(5)

  /** Q3+Q4: genre-overlap candidates excluding the query movie, scored by
    * overlap size (`api.py:138-149`).
    */
  def genreCandidates(movies: DataFrame, movieId: Int, genres: Seq[String], k: Int = 5): DataFrame =
    movies
      .filter(col("movieId") =!= movieId)
      .withColumn("score", Scoring.overlapScore(col("genres"), genres))
      .filter(col("score") >= 1)
      .orderBy(col("score").desc, col("movieId"))
      .limit(k)

  /** Q5: title-keyword fallback for genre-less movies — any keyword (len>3)
    * matches, at least one required (`api.py:119-135`).
    */
  def titleKeywordCandidates(movies: DataFrame, movieId: Int, title: String, k: Int = 5): DataFrame = {
    val kws = Analyzer.keywordsOf(title)
    val scored =
      if (kws.isEmpty) movies.withColumn("score", lit(0))
      else movies.withColumn("score", Scoring.shouldMatchCount(col("title"), kws))
    scored
      .filter(col("movieId") =!= movieId && col("score") >= 1)
      .orderBy(col("score").desc, col("movieId"))
      .limit(k)
  }

  /** The full `/recommend` flow with disambiguation + genre-less fallback
    * branches (`api.py:96-149`). The only collect is the ≤5-row lookup
    * result — same driver boundary as the reference's ES hit list.
    */
  def recommend(movies: DataFrame, title: String): RecommendResult = {
    val hits: Array[Row] = findByTitle(movies, title).collect()
    hits.length match {
      case 0 => NotFound(title)
      case n if n > 1 =>
        Disambiguation(hits.toSeq.map(r =>
          (r.getAs[Int]("movieId"), r.getAs[String]("title"))))
      case 1 =>
        val m = hits(0)
        val id = m.getAs[Int]("movieId")
        val t = m.getAs[String]("title")
        val genres: Seq[String] =
          if (m.isNullAt(m.fieldIndex("genres"))) Seq.empty
          else m.getSeq[String](m.fieldIndex("genres")).toSeq
        val recs =
          if (genres.isEmpty) titleKeywordCandidates(movies, id, t)
          else genreCandidates(movies, id, genres)
        Recommendations((id, t), recs)
    }
  }

  /** Q6: `/movie/<id>` point lookup (`api.py:170-173`). */
  def movieById(movies: DataFrame, movieId: Int): DataFrame =
    movies.filter(col("movieId") === movieId).limit(1)

  /** Q7 + O3: `/search` — multi_match over title^3 + genres^1 with
    * fuzziness AUTO, paginated with the reference's clamps
    * (`api.py:196-221`: page ≥ 1, 1 ≤ size ≤ 100).
    */
  /** Shared scoring contract for both search endpoints: title^3 + genres^1
    * fuzzy multi-match, blank query → no hits (the reference 400s it,
    * api.py:191-194), relevance threshold score ≥ 1.
    */
  private def scoredHits(movies: DataFrame, query: String): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val scored =
      if (terms.isEmpty) movies.withColumn("score", lit(0))
      else movies.withColumn("score",
        Scoring.fuzzyMultiMatch(terms,
          Seq(col("title") -> 3, concat_ws(" ", col("genres")) -> 1)))
    scored.filter(col("score") >= 1)
  }

  def search(movies: DataFrame, query: String, page: Int = 1, size: Int = 10): DataFrame =
    graft.ops.Paging.paginate(
      scoredHits(movies, query), Seq(col("score").desc, col("movieId")), page, size)

  /** `/search` off a precomputed posting table ([[graft.search.Posting]]):
    * same scoring contract and envelope as [[search]], but candidates are
    * pre-gated by the symmetric-delete equi-join, so the exact levenshtein
    * touches only join survivors instead of the whole corpus — the path
    * that holds at 100 TB (PlanSpec pins the plan shape; the q67 gate pins
    * result equality against the q45 oracle).
    */
  def searchViaPosting(
      movies: DataFrame, posting: DataFrame, query: String,
      page: Int = 1, size: Int = 10): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val scores = graft.search.Posting
      .score(posting, terms, Seq("title" -> 3, "genres" -> 1))
      .withColumnRenamed("id", "movieId")
    val hits = movies.join(scores, Seq("movieId")) // inner: only score ≥ 1 ids exist
    graft.ops.Paging.paginate(hits, Seq(col("score").desc, col("movieId")), page, size)
  }

  /** `/search` ranked by IDF-WEIGHTED relevance off the posting table
    * ([[graft.search.Posting.scoreIdf]]): rare matched terms outrank
    * common ones — the deterministic step toward the reference's BM25
    * ordering (`api.py:210-221`) that plain term-count scoring cannot
    * express. Same candidate pre-gating and envelope as
    * [[searchViaPosting]]; scores are integer-quantized so the q154 gate
    * replays them exactly.
    */
  def searchViaPostingIdf(
      movies: DataFrame, posting: DataFrame, query: String,
      page: Int = 1, size: Int = 10, nDocs: Option[Long] = None): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    // nDocs is a per-corpus-snapshot constant: a serving caller computes
    // it ONCE at posting-build time and passes it here — the None
    // fallback counts the corpus per request, acceptable in tests and
    // gates, a full table scan per query at serving scale (r12 review)
    val scores = graft.search.Posting
      .scoreIdf(posting, terms, Seq("title" -> 3, "genres" -> 1),
        nDocs.getOrElse(movies.count()))
      .withColumnRenamed("id", "movieId")
    val hits = movies.join(scores, Seq("movieId"))
    graft.ops.Paging.paginate(hits, Seq(col("score").desc, col("movieId")), page, size)
  }

  /** [[searchWithTotal]] through the posting index: same envelope, the
    * candidate pre-gated scoring of [[searchViaPosting]].
    */
  def searchWithTotalViaPosting(
      movies: DataFrame, posting: DataFrame, query: String,
      page: Int = 1, size: Int = 10): (DataFrame, Long) = {
    val terms = query.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val scores = graft.search.Posting
      .score(posting, terms, Seq("title" -> 3, "genres" -> 1))
      .withColumnRenamed("id", "movieId")
    pageAndTotal(movies.join(scores, Seq("movieId")), page, size)
  }

  /** `/search` with the reference's response envelope: the page plus the
    * total hit count (`res["hits"]["total"]["value"]`, `api.py:225`). The
    * total counts the scored frame — NOT a `count(*) over ()` window,
    * which would single-partition the table.
    */
  def searchWithTotal(
      movies: DataFrame, query: String, page: Int = 1, size: Int = 10): (DataFrame, Long) =
    pageAndTotal(scoredHits(movies, query), page, size)

  /** One scoring pass feeds both the page and the total: the scored hits
    * (at most the corpus's rows) are materialized once through
    * [[Store.localized]] — driver-resident under its caps, so counting
    * them runs no job — and the page is cut from that copy.
    */
  private def pageAndTotal(hits: DataFrame, page: Int, size: Int): (DataFrame, Long) = {
    val held = Store.localized(hits)
    (graft.ops.Paging.paginate(held, Seq(col("score").desc, col("movieId")), page, size),
      Store.rowCount(held))
  }

  /** `/health` analog: the movies table is reachable and non-empty. */
  def health(movies: DataFrame): Boolean = !movies.isEmpty
}
