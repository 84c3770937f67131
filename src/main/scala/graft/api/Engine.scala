package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.search.{Analyzer, Scoring}
import graft.sources.Store

/** Endpoint-equivalent query layer — each reference Flask route
  * (`/root/reference/src/api.py`) compiles to a DataFrame expression over
  * the movies table; Catalyst executes it. No ES. The one driver-side
  * scorer, [[Snapshot]], ranks a driver-resident table under the same
  * contract as the Spark scorers.
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
  /** [[Recommendations]] collected on the driver ([[Snapshot.recommend]]):
    * the movie's row and its recommendation rows.
    */
  final case class Recommended(movie: Row, recs: Seq[Row]) extends RecommendResult

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

  /** Q7: a query's analyzed terms, what both scorers see — lowercased,
    * whitespace-split, blanks dropped.
    */
  def terms(query: String): Seq[String] =
    query.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)

  /** The `/search` relevance order: score desc, then movieId — a total
    * order, so page boundaries are deterministic.
    */
  private val ByRank = Seq(col("score").desc, col("movieId"))

  /** The fields `/search` scores and their boosts: title^3 + genres^1. */
  private def searchFields: Seq[(Column, Int)] =
    Seq(col("title") -> 3, concat_ws(" ", col("genres")) -> 1)

  /** Shared scoring contract for both search endpoints: title^3 + genres^1
    * fuzzy multi-match, blank query → no hits (the reference 400s it,
    * api.py:191-194), relevance threshold score ≥ 1.
    */
  private def scoredHits(movies: DataFrame, query: String): DataFrame = {
    val ts = terms(query)
    val scored =
      if (ts.isEmpty) movies.withColumn("score", lit(0))
      else movies.withColumn("score", Scoring.fuzzyMultiMatch(ts, searchFields))
    scored.filter(col("score") >= 1)
  }

  /** The same hits scored off a precomputed posting table
    * ([[graft.search.Posting]]): candidates are pre-gated by the
    * symmetric-delete equi-join, so the exact levenshtein touches only
    * join survivors instead of the whole corpus.
    */
  private def postingHits(movies: DataFrame, posting: DataFrame, query: String): DataFrame = {
    val scores = graft.search.Posting
      .score(posting, terms(query), Seq("title" -> 3, "genres" -> 1))
      .withColumnRenamed("id", "movieId")
    movies.join(scores, Seq("movieId")) // inner: only score ≥ 1 ids exist
  }

  def search(movies: DataFrame, query: String, page: Int = 1, size: Int = 10): DataFrame =
    graft.ops.Paging.paginate(scoredHits(movies, query), ByRank, page, size)

  /** `/search` off a precomputed posting table ([[graft.search.Posting]]):
    * same scoring contract and envelope as [[search]], through
    * [[postingHits]] — the path that holds at 100 TB (PlanSpec pins the
    * plan shape; the q67 gate pins result equality against the q45
    * oracle).
    */
  def searchViaPosting(
      movies: DataFrame, posting: DataFrame, query: String,
      page: Int = 1, size: Int = 10): DataFrame =
    graft.ops.Paging.paginate(postingHits(movies, posting, query), ByRank, page, size)

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
    // nDocs is a per-corpus-snapshot constant: a serving caller computes
    // it ONCE at posting-build time and passes it here — the None
    // fallback counts the corpus per request, acceptable in tests and
    // gates, a full table scan per query at serving scale (r12 review)
    val scores = graft.search.Posting
      .scoreIdf(posting, terms(query), Seq("title" -> 3, "genres" -> 1),
        nDocs.getOrElse(movies.count()))
      .withColumnRenamed("id", "movieId")
    val hits = movies.join(scores, Seq("movieId"))
    graft.ops.Paging.paginate(hits, ByRank, page, size)
  }

  /** A query's hits in relevance order, cut at
    * [[graft.ops.Paging.MaxResultWindow]] (no offset page reaches deeper),
    * with the full hit count and the hits' schema.
    */
  final case class Ranked(rows: IndexedSeq[Row], total: Long, schema: StructType) {

    /** Page `page` of `size` rows: the one paging implementation behind
      * every `/search` envelope. Past the offset window it throws, as
      * [[graft.ops.Paging.window]] does, so a route answers 500 as an
      * over-deep ES from/size is refused.
      */
    def page(page: Int, size: Int): IndexedSeq[Row] = {
      val (from, until) = graft.ops.Paging.window(page, size)
      rows.slice(from, until)
    }
  }

  /** Ranks a query once for every page of it: one ordered take of at most
    * [[graft.ops.Paging.MaxResultWindow]] rows, scored through the posting
    * index when one is given, else by the full scan. `total` is the
    * taken row count when the list is shorter than the window; otherwise
    * one count job gives it.
    */
  def ranked(movies: DataFrame, query: String, posting: Option[DataFrame] = None): Ranked = {
    val hits = posting.fold(scoredHits(movies, query))(postingHits(movies, _, query))
    val top = hits.orderBy(ByRank: _*).limit(graft.ops.Paging.MaxResultWindow)
    val rows = top.collect().toIndexedSeq
    val total =
      if (rows.length < graft.ops.Paging.MaxResultWindow) rows.length.toLong else hits.count()
    Ranked(rows, total, top.schema)
  }

  /** A driver-resident movies table served with no Spark job or plan per
    * request: its rows, each title normalized ([[Analyzer.normalize]]) and
    * each search field's tokens ([[Analyzer.tokens]]), computed once by
    * Spark, and the routes' scoring contracts through the driver-side
    * twins in [[Scoring]]. Every method returns what its DataFrame
    * counterpart in this object collects, in the same order.
    */
  final class Snapshot private[Engine] (
      rows: IndexedSeq[Row], titles: IndexedSeq[UTF8String],
      fieldTokens: Seq[IndexedSeq[Seq[UTF8String]]], schema: StructType) {
    private val scored = schema.add("score", IntegerType, nullable = false)
    private val idAt = schema.fieldIndex("movieId")
    private val byId = rows.reverseIterator.collect {
      case r if !r.isNullAt(idAt) => r.getInt(idAt) -> r
    }.toMap
    /** Per search field: each distinct token and the rows holding it, so
      * a query term is tested once per token rather than once per row.
      */
    private val postings: Seq[(Array[UTF8String], Array[Array[Int]], Int)] =
      fieldTokens.zip(searchFields.map(_._2)).map { case (perRow, boost) =>
        val rowsOf = new java.util.LinkedHashMap[UTF8String, java.util.BitSet]
        perRow.indices.foreach(i => perRow(i).foreach { t =>
          rowsOf.computeIfAbsent(t, _ => new java.util.BitSet).set(i)
        })
        val es = rowsOf.entrySet.asScala.toArray
        (es.map(_.getKey), es.map(_.getValue.stream.toArray), boost)
      }

    /** Rows with `score` appended, score desc then movieId (nulls first),
      * as [[ByRank]] sorts.
      */
    private def rank(scores: Iterator[(Row, Int)]): IndexedSeq[Row] =
      scores.collect {
        case (r, s) if s >= 1 => new GenericRowWithSchema((r.toSeq :+ s).toArray, scored): Row
      }.toIndexedSeq.sortBy(r => (-r.getInt(r.length - 1), idOf(r)))

    /** The movieId as `orderBy(col("movieId"))` sorts it: nulls first. */
    private def idOf(r: Row): Option[Int] = if (r.isNullAt(idAt)) None else Some(r.getInt(idAt))

    private def others(movieId: Int): Iterator[Int] =
      rows.indices.iterator.filter(i => idOf(rows(i)).exists(_ != movieId))

    /** [[Engine.ranked]] on the driver: the same rows, order and total.
      * As in [[Scoring.fuzzyMultiMatch]], a row scores a field's boost once
      * per occurrence of each term that some token of the field matches.
      */
    def ranked(query: String): Ranked = {
      val scores = new Array[Int](rows.length)
      for {
        (term, occurrences) <- terms(query).groupMapReduce(identity)(_ => 1)(_ + _)
        t = UTF8String.fromString(term.toLowerCase)
        budget = Scoring.autoFuzz(term.length)
        (vocab, rowsOf, boost) <- postings
      } {
        val matched = new java.util.BitSet(rows.length)
        vocab.indices.foreach { k =>
          if (Scoring.withinAutoFuzzOf(vocab(k), t, budget)) rowsOf(k).foreach(matched.set)
        }
        matched.stream.forEach(i => scores(i) += boost * occurrences)
      }
      val hits = rank(rows.indices.iterator.map(i => rows(i) -> scores(i)))
      Ranked(hits.take(graft.ops.Paging.MaxResultWindow), hits.length.toLong, scored)
    }

    /** The number of movie rows held. */
    def size: Int = rows.length

    /** [[Engine.movieById]]'s row. */
    def movie(movieId: Int): Option[Row] = byId.get(movieId)

    /** [[Engine.recommend]], with the movie's row and its recommendations
      * collected ([[Recommended]]).
      */
    def recommend(title: String): RecommendResult = {
      val hits = rows.indices.iterator.filter(i => Scoring.phraseMatchOf(titles(i), title))
        .map(rows).toIndexedSeq
        .sortBy(idOf)
        .take(5)
      hits.length match {
        case 0 => NotFound(title)
        case n if n > 1 =>
          Disambiguation(hits.map(r => (r.getAs[Int]("movieId"), r.getAs[String]("title"))))
        case 1 =>
          val m = hits(0)
          val id = m.getAs[Int]("movieId")
          val genres: Seq[String] =
            if (m.isNullAt(m.fieldIndex("genres"))) Seq.empty
            else m.getSeq[String](m.fieldIndex("genres")).toSeq
          val recs =
            if (genres.isEmpty) {
              val kws = Analyzer.keywordsOf(m.getAs[String]("title"))
              others(id).map(i => rows(i) -> Scoring.shouldMatchCountOf(titles(i), kws))
            } else others(id).map { i =>
              val r = rows(i)
              val g = r.fieldIndex("genres")
              r -> Scoring.overlapScoreOf(if (r.isNullAt(g)) null else r.getSeq[String](g), genres)
            }
          Recommended(m, rank(recs).take(5))
      }
    }
  }

  /** `movies` with its normalized titles and search-field tokens,
    * collected once. It holds every row on the driver, so it refuses a
    * frame that is not driver-resident: one that
    * [[graft.sources.Store.localized]] left distributed because it is
    * past the local caps.
    */
  def snapshot(movies: DataFrame): Snapshot = {
    require(Store.isLocalFrame(movies),
      s"the movies frame is not driver-resident (Store.localized caps: ${Store.LocalCaps})")
    val width = movies.schema.length
    val analyzed = movies.select(col("*") +: Analyzer.normalize(col("title")).as("_title") +:
      searchFields.zipWithIndex.map { case ((c, _), i) => Analyzer.tokens(c).as(s"_tokens$i") }: _*)
      .collect().toIndexedSeq
    def utf8(r: Row, i: Int) = if (r.isNullAt(i)) null else UTF8String.fromString(r.getString(i))
    new Snapshot(
      analyzed.map(r => new GenericRowWithSchema(r.toSeq.take(width).toArray, movies.schema): Row),
      analyzed.map(utf8(_, width)),
      searchFields.indices.map(f => analyzed.map { r =>
        if (r.isNullAt(width + 1 + f)) Seq.empty
        else r.getSeq[String](width + 1 + f).map(UTF8String.fromString)
      }),
      movies.schema)
  }

  private def pageOf(spark: SparkSession, r: Ranked, page: Int, size: Int): (DataFrame, Long) =
    (spark.createDataFrame(r.page(page, size).asJava, r.schema), r.total)

  /** [[searchWithTotal]] through the posting index: same envelope, the
    * candidate pre-gated scoring of [[searchViaPosting]].
    */
  def searchWithTotalViaPosting(
      movies: DataFrame, posting: DataFrame, query: String,
      page: Int = 1, size: Int = 10): (DataFrame, Long) =
    pageOf(movies.sparkSession, ranked(movies, query, Some(posting)), page, size)

  /** `/search` with the reference's response envelope: the page plus the
    * total hit count (`res["hits"]["total"]["value"]`, `api.py:225`).
    */
  def searchWithTotal(
      movies: DataFrame, query: String, page: Int = 1, size: Int = 10): (DataFrame, Long) =
    pageOf(movies.sparkSession, ranked(movies, query), page, size)

  /** `/health` analog: the movies table is reachable and non-empty. */
  def health(movies: DataFrame): Boolean = !movies.isEmpty
}
