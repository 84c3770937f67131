package graft.api

import graft.{MovieLensFixture, SparkSpec}
import graft.etl.MovieLens
import org.apache.spark.sql.functions._

/** Table-driven replay of the reference API's behaviors (`src/api.py`)
  * against the real MovieLens movies table, read from the committed
  * fixture — SURVEY §5.2 #6.
  */
class EngineSpec extends SparkSpec {

  private lazy val movies = {
    val m = MovieLens.movies(spark, MovieLensFixture.dir).cache()
    m.count() // materialize once; every test reuses the cached table
    m
  }

  test("recommend: unknown title → NotFound (api.py:96-98)") {
    assert(Engine.recommend(movies, "No Such Movie Ever") === Engine.NotFound("No Such Movie Ever"))
  }

  test("recommend: ambiguous phrase → Disambiguation list (api.py:101-106)") {
    Engine.recommend(movies, "Star Wars") match {
      // "Star Wars (1977)" plus "Star Wars"-prefixed others? phrase matches
      // any title containing the phrase
      case Engine.Disambiguation(cands) =>
        assert(cands.nonEmpty && cands.size <= 5)
        assert(cands.exists(_._2.contains("Star Wars")))
      case Engine.Recommendations((_, t), _) =>
        assert(t.contains("Star Wars")) // unique match is also acceptable shape
      case other => fail(s"unexpected: $other")
    }
  }

  test("recommend: unique title → genre-overlap recs excluding itself (api.py:138-149)") {
    Engine.recommend(movies, "Toy Story (1995)") match {
      case Engine.Recommendations((id, _), recs) =>
        val rows = recs.collect()
        assert(rows.length === 5)
        assert(!rows.exists(_.getAs[Int]("movieId") == id), "must exclude the query movie")
        assert(rows.forall(_.getAs[Int]("score") >= 1))
      case other => fail(s"unexpected: $other")
    }
  }

  test("recommend: genre-less movie falls back to title keywords (api.py:119-135)") {
    Engine.recommend(movies, "Good Morning (1971)") match {
      case Engine.Recommendations((id, _), recs) =>
        assert(id === 1373)
        val rows = recs.collect()
        assert(rows.nonEmpty, "fallback path must produce keyword candidates")
        assert(!rows.exists(_.getAs[Int]("movieId") == 1373))
        assert(rows.forall(_.getAs[Int]("score") >= 1))
      case other => fail(s"unexpected: $other")
    }
  }

  test("movieById returns exactly the requested movie (api.py:170-173)") {
    val r = Engine.movieById(movies, 1).collect()
    assert(r.length === 1 && r(0).getAs[String]("title") === "Toy Story (1995)")
  }

  test("search: fuzzy typo still finds Star Wars via AUTO fuzziness (api.py:210-221)") {
    val hits = Engine.search(movies, "stra wars").collect()
    assert(hits.nonEmpty)
    assert(hits.exists(_.getAs[String]("title").contains("Star Wars")))
  }

  test("search: pagination clamps and disjoint pages (api.py:196-207)") {
    val p1 = Engine.search(movies, "love", page = 1, size = 5).collect()
    val p2 = Engine.search(movies, "love", page = 2, size = 5).collect()
    assert(p1.length === 5 && p2.length === 5)
    val ids1 = p1.map(_.getAs[Int]("movieId")).toSet
    val ids2 = p2.map(_.getAs[Int]("movieId")).toSet
    assert((ids1 intersect ids2).isEmpty, "pages must be disjoint")
    // clamped inputs behave like page 1 / size bounds
    assert(Engine.search(movies, "love", page = -3, size = 5).collect()
      .map(_.getAs[Int]("movieId")).toSet === ids1)
    assert(Engine.search(movies, "love", page = 1, size = 0).collect().length === 1)
  }

  test("scores order results descending with movieId tie-break") {
    val hits = Engine.search(movies, "star", page = 1, size = 20).collect()
    val scores = hits.map(_.getAs[Int]("score"))
    assert(scores.sameElements(scores.sortBy(-(_: Int))), "not sorted by score desc")
  }

  test("searchWithTotal reports the full hit count alongside the page (api.py:225)") {
    val (pageDf, total) = Engine.searchWithTotal(movies, "love", page = 1, size = 5)
    assert(pageDf.collect().length === 5)
    assert(total > 5, s"total should exceed one page, got $total")
    val (_, totalP2) = Engine.searchWithTotal(movies, "love", page = 2, size = 5)
    assert(total === totalP2, "total must not depend on the requested page")
    val (emptyPage, zeroTotal) = Engine.searchWithTotal(movies, "")
    assert(zeroTotal === 0L && emptyPage.collect().isEmpty)
  }

  test("a driver-resident Snapshot ranks every query as the scan and the posting scorers do") {
    val posting = graft.search.Posting.buildPosting(movies, "movieId",
      Seq("title" -> col("title"), "genres" -> concat_ws(" ", col("genres")))).cache()
    val snap = Engine.snapshot(graft.sources.Store.localized(movies))
    // typos inside and past the AUTO budgets, repeated and multi-field
    // terms, punctuation, non-ASCII titles, blanks and misses
    val queries = Seq("star wras", "stra wars", "toy", "zzzzqq", "western western",
      "the", "a", "love story", "godfather part", "  The LION king ", "crimpe",
      "camdyman", "robocop western", "film-noir", "sci-fi", "children's",
      "misérables", "MISÉRABLES", "(1995)", "1995", "x y z", "ab", "",
      "comedy drama romance", "l'amour")
    try {
      for (q <- queries) {
        def hits(r: Engine.Ranked) = (r.total, r.rows.map(_.toSeq))
        val scan = hits(Engine.ranked(movies, q))
        assert(hits(snap.ranked(q)) === scan, s"snapshot diverged from the scan for '$q'")
        assert(hits(Engine.ranked(movies, q, Some(posting))) === scan,
          s"posting diverged from the scan for '$q'")
      }
      assert(snap.ranked("toy").rows.head.schema.fieldNames.toSeq ===
        Engine.ranked(movies, "toy").schema.fieldNames.toSeq)
    } finally { posting.unpersist(); () }
  }

  test("a driver-resident Snapshot answers /movie and /recommend as the Spark queries do") {
    val snap = Engine.snapshot(graft.sources.Store.localized(movies))
    for (id <- Seq(1, 2, 267, 1373, 1682, 0, -5, 99999)) {
      assert(snap.movie(id).map(_.toSeq) ===
        Engine.movieById(movies, id).collect().headOption.map(_.toSeq), s"movie $id")
    }
    // unique titles (genre-less ones take the keyword fallback), every
    // 60th title of the table, ambiguous phrases, misses and blanks
    val titles = Seq("Toy Story (1995)", "Good Morning (1971)", "star", "the", "love",
      "godfather", "misérables", "MISÉRABLES", "No Such Movie Ever", " ", "(1995)") ++
      movies.orderBy("movieId").select("title").collect()
        .map(_.getString(0)).grouped(60).map(_.head)
    for (t <- titles) {
      (snap.recommend(t), Engine.recommend(movies, t)) match {
        case (Engine.Recommended(m, recs), Engine.Recommendations((id, title), expected)) =>
          assert((m.getAs[Int]("movieId"), m.getAs[String]("title")) === ((id, title)), t)
          assert(m.toSeq === Engine.movieById(movies, id).collect().head.toSeq, t)
          assert(recs.map(_.toSeq) === expected.collect().toSeq.map(_.toSeq),
            s"recommendations for '$t'")
          assert(recs.forall(_.schema.fieldNames.toSeq == expected.columns.toSeq), t)
        case (got, expected) => assert(got === expected, t)
      }
    }
  }

  test("health: table reachable") {
    assert(Engine.health(movies))
  }
}
