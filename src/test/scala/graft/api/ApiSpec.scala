package graft.api

import org.apache.spark.SparkEvents

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

  test("a connected service answers /health with no Spark job and /movie with at most one") {
    // connect materializes the served tables; a request reads that copy
    // instead of re-planning and re-scanning the source table
    val sc = spark.sparkContext
    val s = service // connected outside the counted windows
    val health = SparkEvents.during(sc) {
      assert(s.handle("GET", "/health").status === 200)
    }.jobs
    val movie = SparkEvents.during(sc) {
      assert(s.handle("GET", "/movie/1").body("movieId") === 1)
    }.jobs
    assert(health === 0, s"/health ran $health Spark jobs")
    assert(movie <= 1, s"/movie/1 ran $movie Spark jobs")
  }

  test("/health plans no query: a QueryExecutionListener sees 0 executions") {
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { seen.incrementAndGet(); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = { seen.incrementAndGet(); () }
    }
    val s = service
    SparkEvents.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      assert(s.handle("GET", "/health").status === 200)
      SparkEvents.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(seen.get === 0, s"/health ran ${seen.get} query executions")
  }

  private def search(s: Api.Service, q: String, page: String, size: String) =
    s.handle("GET", "/search", params = Map("q" -> q, "page" -> page, "size" -> size))

  test("/search serves a later page and a repeat of a ranked query with no Spark job") {
    val sc = spark.sparkContext
    val q = "the lion king"
    val first = search(service, q, "1", "10")
    assert(first.status === 200)
    val page2 = SparkEvents.during(sc)(assert(search(service, q, "2", "10").status === 200)).jobs
    // ranking reads the analyzed terms: case and blanks do not matter
    var repeat: Api.Response = null
    val again = SparkEvents.during(sc) { repeat = search(service, " The LION king ", "1", "10") }.jobs
    assert(page2 === 0, s"page 2 of a ranked query ran $page2 Spark jobs")
    assert(again === 0, s"a repeat of page 1 ran $again Spark jobs")
    assert(Api.Json.render(repeat.body) === Api.Json.render(first.body))
  }

  test("on the driver-resident snapshot no route runs a Spark job, a first-seen /search included") {
    val s = service // connected outside the counted windows
    val sc = spark.sparkContext
    var r: Api.Response = null
    val searchJobs = SparkEvents.during(sc) { r = search(s, "jurasic park", "1", "10") }.jobs
    assert(r.status === 200 && r.body("total").asInstanceOf[Long] > 0, r)
    val movieJobs = SparkEvents.during(sc) { r = s.handle("GET", "/movie/50") }.jobs
    assert(r.status === 200, r)
    val recJobs = SparkEvents.during(sc) {
      r = s.handle("POST", "/recommend", body = Some(Map("title" -> "Toy Story (1995)")))
    }.jobs
    assert(r.status === 200 && r.body.contains("recommendations"), r)
    assert((searchJobs, movieJobs, recJobs) === ((0, 0, 0)),
      "Spark jobs per /search, /movie, /recommend")
  }

  test("/search pages are byte-equal to offset pagination over the posting hits") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, concat_ws}
    val movies = MovieLens.movies(spark, MovieLensFixture.dir).cache()
    val posting = graft.search.Posting.buildPosting(movies, "movieId",
      Seq("title" -> col("title"), "genres" -> concat_ws(" ", col("genres")))).cache()
    def doc(r: Row): Map[String, Any] = r.schema.fieldNames.map { f =>
      f -> (r.get(r.fieldIndex(f)) match {
        case xs: collection.Seq[_] => xs.toSeq
        case x => x
      })
    }.toMap
    try {
      for (q <- Seq("the", "star wras")) {
        val total = graft.search.Posting
          .score(posting, Engine.terms(q), Seq("title" -> 3, "genres" -> 1)).count()
        for (page <- 0 to 4; size <- Seq(0, 5, 10, 20, 150)) {
          // the reference's clamps, then offset pagination of the scored hits
          val (p, sz) = (math.max(1, page), if (size < 1 || size > 100) 10 else size)
          val rows = Engine.searchViaPosting(movies, posting, q, p, sz).collect()
          val expected = Map("movies" -> rows.toSeq.map(doc), "page" -> p, "size" -> sz,
            "total" -> total)
          val got = search(service, q, page.toString, size.toString)
          assert(got.status === 200)
          assert(Api.Json.render(got.body) === Api.Json.render(expected),
            s"'$q' page=$page size=$size diverged")
        }
      }
    } finally { movies.unpersist(); posting.unpersist() }
  }

  test("/search past the 10,000-row offset window keeps the 500 envelope") {
    assert(search(service, "star", "101", "100") ===
      Api.Response(500, Map("error" -> "Internal server error")))
    assert(search(service, "star", "100", "100").status === 200)
  }

  /** The lines `graft.api.Api` logs at WARN or above while `f` runs. */
  private def warnings(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("api-spec", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        lines.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}"); ()
      }
    }
    appender.start()
    val logger = LoggerContext.getContext(false).getLogger("graft.api.Api")
    val level = logger.getLevel
    logger.setLevel(org.apache.logging.log4j.Level.WARN)
    logger.addAppender(appender)
    try f
    finally { logger.removeAppender(appender); logger.setLevel(level) }
    lines.toArray.toSeq.map(_.toString)
  }

  test("a 500 logs one WARN line naming the route and the exception") {
    val s = service
    val logged = warnings(assert(search(s, "star", "101", "100").status === 500))
    assert(logged.size === 1, logged)
    assert(logged.head.startsWith(
      "WARN 500 on GET /search: java.lang.IllegalArgumentException: " +
        "requirement failed: result window too large"), logged.head)
  }

  test("two requests racing on one new query serve identical bodies") {
    val q = "godfather part"
    val s = service
    val start = new java.util.concurrent.CountDownLatch(1)
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        start.await()
        bodies.add(Api.Json.render(search(s, q, "1", "5").body)); ()
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    val bs = bodies.toArray.toSeq.map(_.toString)
    assert(bs.size === 2 && bs.distinct.size === 1, bs)
    assert(bs.head === Api.Json.render(search(s, q, "1", "5").body))
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
    val logged = warnings(assert(!down.connect(maxRetries = 2, delayMs = 1L)))
    assert(logged === Seq(1, 2).map(n =>
      s"WARN connect attempt $n/2 failed: java.lang.RuntimeException: no store"))
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
    val logged = warnings(assert(flaky.connect(maxRetries = 5, delayMs = 10L)))
    assert(calls === 3 && sleeps === 2, s"calls=$calls sleeps=$sleeps")
    assert(logged === Seq(1, 2).map(n =>
      s"WARN connect attempt $n/5 failed: java.lang.RuntimeException: warming up"))
  }

  test("a movies frame past Store.localized's row cap fails connect; routes answer 503") {
    import org.apache.spark.sql.functions.{array, col, concat, lit}
    val big = spark.range(200001).select(
      col("id").cast("int").as("movieId"),
      concat(lit("Movie "), col("id").cast("string")).as("title"),
      lit("01-Jan-1995").as("release_date"),
      array(lit("Drama")).as("genres"))
    val refused = new Api.Service(() => big, sleep = _ => ())
    val logged = warnings(assert(!refused.connect(maxRetries = 1, delayMs = 0L)))
    assert(logged === Seq("WARN connect attempt 1/1 failed: java.lang.IllegalArgumentException: " +
      "requirement failed: the movies frame is not driver-resident " +
      "(Store.localized caps: 200000 rows, 64 MB)"))
    assert(refused.handle("GET", "/health").status === 503)
    assert(refused.handle("GET", "/search", params = Map("q" -> "movie")) ===
      Api.Response(503, Map("error" -> "Service temporarily unavailable")))
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
