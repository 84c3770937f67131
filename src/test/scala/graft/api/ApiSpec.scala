package graft.api

import graft.{MovieLensFixture, SparkSpec}
import graft.etl.MovieLens

/** Pins the serving surface's route/status/envelope contract against the
  * reference Flask app (`api.py:74-263`): same codes, same error strings,
  * same body shapes.
  */
class ApiSpec extends SparkSpec {

  private lazy val service = {
    val s = new Api.Service(() => MovieLens.movies(spark, MovieLensFixture.dir))
    assert(s.connect(maxRetries = 1, delayMs = 0L))
    s
  }

  test("GET / lists the endpoint documentation envelope") {
    val r = service.handle("GET", "/")
    assert(r.status === 200)
    assert(r.body("status") === "API running")
    val eps = r.body("endpoints").asInstanceOf[Map[String, Any]]
    assert(eps.keySet === Set("/recommend", "/movie/<id>", "/search", "/health"))
  }

  test("unknown route and wrong method 404 with the reference envelope") {
    assert(service.handle("GET", "/nope") === Api.Response(404, Map("error" -> "Endpoint not found")))
    assert(service.handle("GET", "/recommend").status === 404) // POST-only route
  }

  test("GET /health reports the store status") {
    val r = service.handle("GET", "/health")
    assert(r.status === 200)
    assert(r.body === Map("status" -> "OK", "store" -> "OK", "version" -> "1.0.0"))
  }

  test("POST /recommend: 400 envelopes for missing body and missing title") {
    assert(service.handle("POST", "/recommend", body = None) ===
      Api.Response(400, Map("error" -> "Invalid JSON")))
    assert(service.handle("POST", "/recommend", body = Some(Map("nope" -> 1))) ===
      Api.Response(400, Map("error" -> "Title is required")))
  }

  test("POST /recommend: 404 for unknown movie, 200 with movie+recommendations for unique title") {
    assert(service.handle("POST", "/recommend",
      body = Some(Map("title" -> "No Such Movie (9999)"))).status === 404)
    val r = service.handle("POST", "/recommend",
      body = Some(Map("title" -> "Toy Story (1995)")))
    assert(r.status === 200)
    val movie = r.body("movie").asInstanceOf[Map[String, Any]]
    assert(movie("movieId") === 1)
    val recs = r.body("recommendations").asInstanceOf[Seq[Map[String, Any]]]
    assert(recs.size === 5)
    assert(!recs.exists(_("movieId") === 1), "query movie excluded (must_not)")
  }

  test("POST /recommend: ambiguous phrase returns the disambiguation envelope") {
    // 'Die Hard' phrase-matches several titles in MovieLens-100k
    val r = service.handle("POST", "/recommend", body = Some(Map("title" -> "Die Hard")))
    assert(r.status === 200)
    assert(r.body("message") === "Multiple movies found, please select one")
    val movies = r.body("movies").asInstanceOf[Seq[Map[String, Any]]]
    assert(movies.size > 1 && movies.size <= 5)
    assert(movies.forall(m => m.keySet === Set("movieId", "title")))
  }

  test("GET /movie/<id>: 200 document, 404 for unknown and non-numeric ids") {
    val r = service.handle("GET", "/movie/1")
    assert(r.status === 200)
    assert(r.body("movieId") === 1)
    assert(r.body.contains("title") && r.body.contains("genres"))
    assert(service.handle("GET", "/movie/999999").status === 404)
    assert(service.handle("GET", "/movie/abc").status === 404)
  }

  test("GET /search: 400 without q; envelope carries movies/page/size/total; clamps apply") {
    assert(service.handle("GET", "/search") ===
      Api.Response(400, Map("error" -> "Query parameter 'q' is required")))
    val r = service.handle("GET", "/search",
      params = Map("q" -> "star wars", "page" -> "0", "size" -> "500"))
    assert(r.status === 200)
    assert(r.body("page") === 1, "page < 1 clamps to 1")
    assert(r.body("size") === 10, "size > 100 clamps to 10")
    val movies = r.body("movies").asInstanceOf[Seq[Map[String, Any]]]
    assert(movies.nonEmpty && movies.size <= 10)
    assert(r.body("total").asInstanceOf[Long] >= movies.size)
    assert(movies.head.contains("score"), "deterministic relevance exposed")
  }

  test("GET /search: NON-numeric page/size reproduce the reference's 500 envelope") {
    // api.py:197-198 runs int(request.args.get(...)) INSIDE the try — a
    // non-numeric value raises ValueError and surfaces as the 500
    // "Error during search" envelope, not a clamp (ADVICE r4)
    val r = service.handle("GET", "/search",
      params = Map("q" -> "star", "page" -> "two"))
    assert(r === Api.Response(500,
      Map("error" -> "Error during search: invalid literal for int() with base 10: 'two'")))
    assert(service.handle("GET", "/search",
      params = Map("q" -> "star", "size" -> "1.5")).status === 500)
  }

  test("a posting-index-backed service serves BYTE-equal /search envelopes") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val withIndex = new Api.Service(
      () => MovieLens.movies(spark, MovieLensFixture.dir),
      sleep = _ => (),
      loadPosting = Some(() => graft.search.Posting.buildPosting(
        MovieLens.movies(spark, MovieLensFixture.dir), "movieId",
        Seq("title" -> col("title"), "genres" -> concat_ws(" ", col("genres"))))))
    assert(withIndex.connect(maxRetries = 1, delayMs = 0L))
    for (q <- Seq("star wras", "toy", "zzzzqq")) {
      val plain = service.handle("GET", "/search", params = Map("q" -> q, "size" -> "25"))
      val indexed = withIndex.handle("GET", "/search", params = Map("q" -> q, "size" -> "25"))
      assert(Api.Json.render(indexed.body) === Api.Json.render(plain.body),
        s"posting-backed /search diverged for '$q'")
      assert(indexed.status === plain.status)
    }
  }

  test("search pages are disjoint and sized like the reference's from/size math") {
    def page(p: Int) = service.handle("GET", "/search",
      params = Map("q" -> "love", "page" -> p.toString, "size" -> "5"))
      .body("movies").asInstanceOf[Seq[Map[String, Any]]].map(_("movieId"))
    val (p1, p2) = (page(1), page(2))
    assert(p1.size === 5 && p2.size === 5)
    assert(p1.toSet.intersect(p2.toSet).isEmpty)
  }

  test("backend-down guard: 503 envelope per request; health 503") {
    val down = new Api.Service(() => sys.error("no store"), sleep = _ => ())
    assert(!down.connect(maxRetries = 2, delayMs = 1L))
    assert(down.handle("GET", "/search", params = Map("q" -> "x")) ===
      Api.Response(503, Map("error" -> "Service temporarily unavailable")))
    val h = down.handle("GET", "/health")
    assert(h.status === 503)
    assert(h.body("store") === "NOT CONNECTED")
  }

  test("connect retries with the configured delay before succeeding") {
    var sleeps = 0
    var calls = 0
    val flaky = new Api.Service(
      () => {
        calls += 1
        if (calls < 3) sys.error("warming up") else MovieLens.movies(spark, MovieLensFixture.dir)
      },
      sleep = _ => sleeps += 1)
    assert(flaky.connect(maxRetries = 5, delayMs = 10L))
    assert(calls === 3 && sleeps === 2, s"calls=$calls sleeps=$sleeps")
  }

  test("Json.render produces valid JSON for every envelope shape") {
    val r = service.handle("GET", "/search", params = Map("q" -> "star", "size" -> "2"))
    val json = Api.Json.render(r.body)
    // no JSON parser on the classpath by design — pin escaping + structure
    assert(json.startsWith("{") && json.endsWith("}"))
    assert(json.contains("\"page\":1") && json.contains("\"movies\":["))
    assert(Api.Json.render(Map("s" -> "a\"b\n")) === """{"s":"a\"b\n"}""")
    assert(Api.Json.render(Seq(1, None, true)) === "[1,null,true]")
  }
}
