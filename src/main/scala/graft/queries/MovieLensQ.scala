package graft.queries

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.Engine
import graft.etl.MovieLens
import graft.ml.AlsPipeline
import graft.sources.Store

/** Reference-parity battery over the real MovieLens-100k data
  * (`/root/reference/data`, read-only). These exercise the reference's own
  * dataflows end-to-end (S1–S3, U1, J1/J2, A1–A3, Q1–Q11, M1/M2).
  *
  * Every query here (q40–q46, q58) carries a DuckDB oracle: the twin reads
  * `u.data` directly (pure ASCII) and, for `u.item`, the committed UTF-8
  * transcode `fixtures/u_item_utf8.csv` (DuckDB 1.0 cannot decode
  * ISO-8859-1; FixtureSpec pins the transcode byte-for-byte against the
  * reference file). The ES-semantics twins (q44/q45) replay the scoring in
  * flag space; the ALS twins (q46/q58) verify the exact serving contract
  * (10 distinct non-null-scored recs per training user) — factor values
  * are partitioning-nondeterministic, so those are pinned as bounds in
  * AlsSpec, not hashes.
  */
object MovieLensQ {

  /** `u.item` as a DuckDB relation: 24 unnamed varchar columns
    * (5 meta + 19 genre flags), no quoting — mirrors
    * [[MovieLens.moviesRawSchema]]. It reads `fixtures/u_item_utf8.csv`
    * of THIS checkout, resolved against the working directory (the
    * project root for `run` and the tests), so the twins never replay
    * another tree's fixture.
    */
  private val ItemCsv = {
    val csv = java.nio.file.Paths.get("fixtures", "u_item_utf8.csv").toAbsolutePath.toString
    s"read_csv('${csv.replace("'", "''")}', delim='|', header=false, quote='', all_varchar=true)"
  }

  /** `u.data` from the same [[MovieLens.DataDir]] the Spark side reads —
    * the engine and its oracle can never see different ratings files.
    */
  private val RatingsCsv =
    s"read_csv('${MovieLens.DataDir}/u.data', delim='\\t', header=false, " +
      "columns={'userId':'INTEGER','movieId':'INTEGER','rating':'INTEGER','ts':'INTEGER'})"

  /** Genre-name list literal, generated from the same [[MovieLens.genreNames]]
    * the Spark side unpivots with — the twin can't drift from the engine.
    * Flags start at column05 (`unknown`); names skip it → column06+.
    */
  private def genreCol(i: Int): String = f"column${i + 6}%02d"

  private val GenreList: String = {
    val cases = MovieLens.genreNames.zipWithIndex.map { case (g, i) =>
      s"CASE WHEN ${genreCol(i)}='1' THEN '$g' END"
    }
    s"list_filter([${cases.mkString(", ")}], x -> x IS NOT NULL)"
  }

  /** Genre-overlap count between a movie row `m` and the query row `q` —
    * the twin of [[graft.search.Scoring.overlapScore]] in flag space.
    */
  private val OverlapSql: String =
    MovieLens.genreNames.indices
      .map(i => s"CASE WHEN m.${genreCol(i)}='1' AND q.${genreCol(i)}='1' THEN 1 ELSE 0 END")
      .mkString(" + ")

  /** Twin of [[graft.search.Scoring.fuzzyMultiMatch]] for one field: each
    * term scores `boost` if any whitespace token of the normalized field is
    * within the term's AUTO edit budget.
    */
  private def fuzzyFieldSql(fieldExpr: String, terms: Seq[String], boost: Int): String = {
    val toks = s"regexp_split_to_array(lower(trim($fieldExpr)), '\\s+')"
    terms.map { term =>
      val budget = graft.search.Scoring.autoFuzz(term.length)
      s"CASE WHEN len(list_filter($toks, t -> levenshtein(t, '${term.toLowerCase}') <= $budget)) > 0 THEN $boost ELSE 0 END"
    }.mkString(" + ")
  }

  /** Shared by q45 (full-scan scoring) and q67 (posting-table scoring):
    * one oracle, two physical routes — the twin pins their equivalence.
    */
  private lazy val FuzzySearchOracle: String = s"""
        WITH scored AS (
          SELECT CAST(column00 AS INT) AS movieId, column01 AS title,
            CAST((${fuzzyFieldSql("column01", Seq("star", "wras"), 3)})
               + (${fuzzyFieldSql(s"coalesce(array_to_string($GenreList, ' '), '')", Seq("star", "wras"), 1)})
              AS INT) AS score
          FROM $ItemCsv)
        SELECT movieId, title, score FROM scored WHERE score >= 1
        ORDER BY score DESC, movieId LIMIT 10 OFFSET 0"""

  /** One fuzzy (field, term) MATCH FLAG under the AUTO budget — the
    * per-term building block the idf oracle aggregates df from.
    */
  private def fuzzyTermFlagSql(fieldExpr: String, term: String): String = {
    val toks = s"regexp_split_to_array(lower(trim($fieldExpr)), '\\s+')"
    val budget = graft.search.Scoring.autoFuzz(term.length)
    s"CASE WHEN len(list_filter($toks, t -> levenshtein(t, '${term.toLowerCase}') <= $budget)) > 0 THEN 1 ELSE 0 END"
  }

  /** q154: the idf arithmetic of [[graft.search.Posting.scoreIdf]] replayed
    * verbatim — per (field, term) flags, document frequencies summed from
    * the flags, fixed-point weights round(1000·ln((N+1)/(df+1))), boosts
    * title^3 / genres^1.
    */
  private lazy val IdfSearchOracle: String = {
    val g = s"coalesce(array_to_string($GenreList, ' '), '')"
    s"""
        WITH flags AS (
          SELECT CAST(column00 AS INT) AS movieId, column01 AS title,
            ${fuzzyTermFlagSql("column01", "star")} AS f_ts,
            ${fuzzyTermFlagSql("column01", "wras")} AS f_tw,
            ${fuzzyTermFlagSql(g, "star")} AS f_gs,
            ${fuzzyTermFlagSql(g, "wras")} AS f_gw
          FROM $ItemCsv),
        d AS (
          SELECT count(*) AS nd, sum(f_ts) AS d_ts, sum(f_tw) AS d_tw,
                 sum(f_gs) AS d_gs, sum(f_gw) AS d_gw
          FROM flags),
        scored AS (
          SELECT movieId, title,
            f_ts + f_tw + f_gs + f_gw AS n_matched,
            CAST(f_ts * 3 * round(1000 * ln((nd + 1) / (d_ts + 1.0)))
               + f_tw * 3 * round(1000 * ln((nd + 1) / (d_tw + 1.0)))
               + f_gs * 1 * round(1000 * ln((nd + 1) / (d_gs + 1.0)))
               + f_gw * 1 * round(1000 * ln((nd + 1) / (d_gw + 1.0))) AS BIGINT) AS score
          FROM flags, d)
        -- matched-docs filter, NOT a score floor: a doc whose only
        -- matches carry weight 0 (corpus-universal terms) still ranks
        SELECT movieId, title, score FROM scored WHERE n_matched >= 1
        ORDER BY score DESC, movieId LIMIT 10 OFFSET 0"""
  }

  val defs: Seq[QueryDef] = Seq(

    // S2/S3/U1: Latin-1 pipe CSV → single-pass genre unpivot.
    // coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''.
    QueryDef(
      "q40_ml_movies",
      (s, _) =>
        MovieLens.movies(s)
          .select(col("movieId"), col("title"), col("release_date"),
            array_join(col("genres"), "|").as("genres"))
          .orderBy(col("movieId")),
      Some(s"""
        SELECT CAST(column00 AS INT) AS movieId, column01 AS title,
               column02 AS release_date,
               coalesce(array_to_string($GenreList, '|'), '') AS genres
        FROM $ItemCsv ORDER BY movieId""")),

    // S1/P5/J1: TSV read, na.drop, broadcast join → rating distribution.
    // The twin replays na.drop + the inner join's movieId semijoin filter.
    QueryDef(
      "q41_ml_rating_dist",
      (s, _) =>
        MovieLens.processed(s)
          .groupBy(col("rating"))
          .agg(count(lit(1)).as("n_ratings"))
          .orderBy(col("rating")),
      Some(s"""
        SELECT rating, count(*) AS n_ratings FROM $RatingsCsv
        WHERE userId IS NOT NULL AND movieId IS NOT NULL
          AND rating IS NOT NULL AND ts IS NOT NULL
          AND movieId IN (SELECT CAST(column00 AS INT) FROM $ItemCsv)
        GROUP BY rating ORDER BY rating""")),

    // A2/P6/O1: genre-count histogram (name-array semantics).
    QueryDef(
      "q42_ml_genre_histogram",
      (s, _) => MovieLens.genreCountHistogram(MovieLens.movies(s)),
      Some(s"""
        SELECT CAST(len($GenreList) AS INT) AS num_genres, count(*) AS n_movies
        FROM $ItemCsv GROUP BY 1 ORDER BY num_genres""")),

    // A3/U2/O2: top-20 genre frequency (ES terms-agg analog).
    QueryDef(
      "q43_ml_top_genres",
      (s, _) => MovieLens.topGenres(MovieLens.movies(s)),
      Some(s"""
        SELECT genre, count(*) AS n_movies
        FROM (SELECT unnest($GenreList) AS genre FROM $ItemCsv)
        GROUP BY genre ORDER BY n_movies DESC, genre LIMIT 20""")),

    // Q1+Q3+Q4+O2: the full /recommend flow for a unique title. The twin
    // replays phrase lookup + genre-overlap scoring in flag space.
    QueryDef(
      "q44_ml_recommend",
      (s, _) =>
        Engine.recommend(MovieLens.movies(s), "Toy Story (1995)") match {
          case Engine.Recommendations(_, recs) =>
            recs.select(col("movieId"), col("title"), col("score"))
          case other =>
            sys.error(s"expected Recommendations for Toy Story, got $other")
        },
      Some(s"""
        WITH q AS (
          SELECT * FROM $ItemCsv
          WHERE contains(lower(trim(column01)), 'toy story (1995)'))
        SELECT CAST(m.column00 AS INT) AS movieId, m.column01 AS title,
               CAST($OverlapSql AS INT) AS score
        FROM $ItemCsv m CROSS JOIN q
        WHERE m.column00 <> q.column00 AND ($OverlapSql) >= 1
          -- self-check: the Spark side errors loudly on an ambiguous phrase
          -- (Disambiguation); if the phrase ever matched several movies this
          -- twin would otherwise silently score against every match, so
          -- collapse to zero rows (a visible row-count mismatch) instead
          AND (SELECT count(*) FROM q) = 1
        ORDER BY score DESC, movieId LIMIT 5""")),

    // Q7+Q10+O3: fuzzy boosted multi-field search, page 1 — twin replays
    // title^3 + genres^1 token-level levenshtein under the AUTO budgets.
    QueryDef(
      "q45_ml_search",
      (s, _) =>
        Engine.search(MovieLens.movies(s), "star wras", page = 1, size = 10)
          .select(col("movieId"), col("title"), col("score")),
      Some(FuzzySearchOracle)),

    // The SAME search through the posting-table path ([[graft.search
    // .Posting]]): offline symmetric-delete index (built once per JVM into
    // a Store table) + broadcast variant join + exact levenshtein on
    // candidates only. The oracle is q45's VERBATIM — the gate pins that
    // the O(candidates) path returns bit-identical results to the
    // O(corpus) scan it replaces; PlanSpec pins that the plan actually
    // takes the index route.
    QueryDef(
      "q67_ml_search_posting",
      (s, _) => {
        ensurePostingTable(s)
        Engine.searchViaPosting(
            MovieLens.movies(s), Store.read(s, PostingTable), "star wras",
            page = 1, size = 10)
          .select(col("movieId"), col("title"), col("score"))
      },
      Some(FuzzySearchOracle)),

    // IDF-WEIGHTED relevance (VERDICT r11 next #4): the same posting-table
    // candidates, ranked by boost × round(1000·ln((N+1)/(df+1))) per
    // matched (field, term) — the deterministic, integer-quantized step
    // toward the reference's BM25 ordering (`api.py:210-221`), where the
    // rare 'wras'→wars match dominates the common 'star' match instead of
    // tying it. Oracle replays the exact idf arithmetic in flag space.
    QueryDef(
      "q154_ml_search_idf",
      (s, _) => {
        ensurePostingTable(s)
        Engine.searchViaPostingIdf(
            MovieLens.movies(s), Store.read(s, PostingTable), "star wras",
            page = 1, size = 10)
          .select(col("movieId"), col("title"), col("score"))
      },
      Some(IdfSearchOracle)),

    // ITEM-side serving (VERDICT r11 next #7): `recommendForAllItems`
    // top-10 users per movie, bulk-written into a movieId-bucketed Store
    // table — the audience-targeting read path, same S7+M2 loop as q58
    // with the orientation flipped. The twin verifies the serving
    // contract per movie: 10 distinct users, all scored. Movies in the
    // serving table = movies with ≥1 surviving rating (the q41
    // processed-contract filters, replayed by the oracle).
    QueryDef(
      "q157_ml_item_rec_serving",
      (s, _) => {
        ensureItemServingTables(s)
        Store.read(s, ItemServingTable)
          .filter(col("movieId") <= 50)
          .groupBy(col("movieId"))
          .agg(
            count(lit(1)).as("n_recs"),
            countDistinct(col("userId")).as("distinct_users"),
            (count(lit(1)) === count(col("predicted_rating"))).as("scores_present"))
          .orderBy(col("movieId"))
      },
      Some(s"""
        SELECT DISTINCT movieId, CAST(10 AS BIGINT) AS n_recs,
               CAST(10 AS BIGINT) AS distinct_users, true AS scores_present
        FROM $RatingsCsv
        WHERE movieId <= 50 AND userId IS NOT NULL AND movieId IS NOT NULL
          AND rating IS NOT NULL AND ts IS NOT NULL
          AND movieId IN (SELECT CAST(column00 AS INT) FROM $ItemCsv)
        ORDER BY movieId""")),

    // ITEM-ITEM similarity serving ("more like this"): top-5 nearest
    // items per item by cosine over the SAME model's item factors
    // ([[AlsPipeline.itemSimilarity]] → movieId-bucketed Store table; one
    // train feeds q157 and q159). Factor values are ALS-nondeterministic,
    // so the gate pins the serving contract: exactly 5 ranked neighbors,
    // ranks complete, cosines bounded, never itself.
    QueryDef(
      "q159_ml_item_similarity",
      (s, _) => {
        ensureItemServingTables(s)
        Store.read(s, ItemSimTable)
          .filter(col("movieId") <= 20)
          .groupBy(col("movieId"))
          .agg(
            count(lit(1)).as("n_similar"),
            (max(col("rank")) === 5 && countDistinct(col("rank")) === 5)
              .as("ranks_complete"),
            (min(col("cosine")) >= -1.0001 && max(col("cosine")) <= 1.0001)
              .as("cosine_bounded"),
            (sum((col("similar_movieId") === col("movieId")).cast("int")) === 0)
              .as("no_self"))
          .orderBy(col("movieId"))
      },
      Some(s"""
        SELECT DISTINCT movieId, CAST(5 AS BIGINT) AS n_similar,
               true AS ranks_complete, true AS cosine_bounded, true AS no_self
        FROM $RatingsCsv
        WHERE movieId <= 20 AND userId IS NOT NULL AND movieId IS NOT NULL
          AND rating IS NOT NULL AND ts IS NOT NULL
          AND movieId IN (SELECT CAST(column00 AS INT) FROM $ItemCsv)
        ORDER BY movieId""")),

    // M1/M2/W1/U2: ALS train + top-10/user + explode. Factor values are
    // nondeterministic across partitionings (bounds pinned in AlsSpec), but
    // the M2 contract — exactly 10 recs for every training user — is exact,
    // so that is what the query emits and the twin verifies.
    QueryDef(
      "q46_ml_als_recommend",
      (s, _) => {
        val model = AlsPipeline.train(MovieLens.processed(s)
          .select(col("userId"), col("movieId"), col("rating")))
        AlsPipeline.recommendAll(model, k = 10)
          .groupBy(col("userId"))
          .agg(count(lit(1)).as("n_recs"))
          .orderBy(col("userId"))
      },
      Some(s"""
        SELECT DISTINCT userId, CAST(10 AS BIGINT) AS n_recs
        FROM $RatingsCsv ORDER BY userId""")),

    // S7+M2 serving loop (`model.py:18-24` persists 9,430 per-user recs to
    // ES; `api.py` point-reads a user's list): the trained model's top-10s
    // are bulk-written ONCE per JVM into a userId-bucketed Store table (an
    // offline rebuild, like the IVF index build), and the query is the
    // ONLINE read path — per-user lists back off the bucketed table. The
    // twin verifies the serving contract per user: 10 distinct movies, all
    // scored.
    QueryDef(
      "q58_ml_rec_serving",
      (s, _) => {
        ensureServingTable(s)
        Store.read(s, ServingTable)
          .filter(col("userId") <= 50)
          .groupBy(col("userId"))
          .agg(
            count(lit(1)).as("n_recs"),
            countDistinct(col("movieId")).as("distinct_movies"),
            (count(lit(1)) === count(col("predicted_rating"))).as("scores_present"))
          .orderBy(col("userId"))
      },
      Some(s"""
        SELECT DISTINCT userId, CAST(10 AS BIGINT) AS n_recs,
               CAST(10 AS BIGINT) AS distinct_movies, true AS scores_present
        FROM $RatingsCsv WHERE userId <= 50 ORDER BY userId""")),
  )

  private val ServingTable = "recommendations"
  private val PostingTable = "movie_posting"
  private val ItemServingTable = "item_recommendations"
  private val ItemSimTable = "item_similarity"

  /** One-time (per JVM) offline build of the fuzzy-search posting index:
    * title + genre tokens → symmetric-delete variants → Store table keyed
    * by variant (the join key). ~37 variants/token at d=2 over 1,682
    * movies — an index build, not a query cost.
    */
  private val postingBuilt = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def ensurePostingTable(s: org.apache.spark.sql.SparkSession): Unit =
    postingBuilt.getOrElseUpdate(PostingTable, {
      val posting = graft.search.Posting.buildPosting(
        MovieLens.movies(s), "movieId",
        Seq("title" -> col("title"), "genres" -> concat_ws(" ", col("genres"))))
      Store.bulkWrite(posting, PostingTable, "variant")
      true
    })

  /** One-time (per JVM) offline rebuild of the serving table: ALS train →
    * top-10 per user → [[Store.bulkWrite]] bucketed by userId, so the
    * online lookup prunes to one bucket (StoreSpec pins
    * SelectedBucketsCount). The declared schema replays the reference's
    * ES-mapping check on its recommendations index.
    */
  private val servingBuilt = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def ensureServingTable(s: org.apache.spark.sql.SparkSession): Unit =
    servingBuilt.getOrElseUpdate(ServingTable, {
      val model = AlsPipeline.train(
        MovieLens.processed(s).select(col("userId"), col("movieId"), col("rating")))
      Store.bulkWrite(
        AlsPipeline.recommendAll(model, k = 10), ServingTable, "userId",
        declared = Some(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("userId", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("movieId", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("predicted_rating", org.apache.spark.sql.types.FloatType)))))
      true
    })

  /** One-time (per JVM) offline rebuild of the ITEM-side serving pair
    * (q157/q159): one ALS train feeds BOTH the per-movie audience table
    * (`recommendForAllItems` — `model.py:13`'s unbuilt sibling) and the
    * item-item similarity table (cosine over the item factors), each
    * bulk-written bucketed on movieId so the "audience for movie M" /
    * "more like M" lookups prune to one bucket.
    */
  private val itemServingBuilt = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def ensureItemServingTables(s: org.apache.spark.sql.SparkSession): Unit =
    itemServingBuilt.getOrElseUpdate(ItemServingTable, {
      val model = AlsPipeline.train(
        MovieLens.processed(s).select(col("userId"), col("movieId"), col("rating")))
      Store.bulkWrite(
        AlsPipeline.recommendAllItems(model, k = 10), ItemServingTable, "movieId")
      Store.bulkWrite(
        AlsPipeline.itemSimilarity(model, k = 5), ItemSimTable, "movieId")
      true
    })
}
