package perfbench

import java.net.{HttpURLConnection, URI, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

import graft.api.{Api, Engine, HttpApi}
import graft.etl.MovieLens
import graft.search.Posting
import graft.sources.Store

/** One line of gen.py's request mix. */
final case class Req(route: String, method: String, path: String, query: String, title: String) {
  def key: String = Seq(route, method, path, query, title).mkString("\t")
  def params: Map[String, String] =
    query.split("&").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }.toMap
  def body: Option[Map[String, Any]] = if (method == "POST") Some(Map("title" -> title)) else None
  def terms: Seq[String] = params("q").toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
}

/** The paper's user path over a real socket: `HttpApi` serving
  * `Api.Service` over the Store movies table and the posting index, both
  * built from the committed fixture. Two clients run a closed loop, each
  * sending whole rounds of its own request file.
  */
object ServeMix {
  val Clients = 2
  val RoundLen = 10
  val SetupReps = 3
  /** Untimed warm-up: client 0's first round, sent alone. Its 10
    * requests cover every request kind of the mix.
    */
  val WarmRounds = 1
  /** Timed rounds per client: two clients take 4–9 s for a round on a
    * 4-core host, so a run measures about `seconds`. The count does not
    * depend on how fast the host is, so every run sends the same requests.
    */
  def timedRounds(seconds: Int): Int = math.max(1, math.round(seconds / 8.0).toInt)
  private val Boosts = Seq("title" -> 3, "genres" -> 1)

  private def load(a: Args, c: Int): IndexedSeq[IndexedSeq[Req]] =
    Files.readAllLines(Paths.get(a.dir, s"requests_$c.tsv"), UTF_8).asScala
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Req(f(0), f(1), f(2), f(3), f(4))
      }.toIndexedSeq.grouped(RoundLen).toIndexedSeq

  /** One set-up: the movies table and posting index written to the Store
    * and read back, and a service connected over them.
    */
  private def build(spark: SparkSession, a: Args): (DataFrame, DataFrame, Api.Service) = {
    val ml = s"${a.dir}/ml"
    Store.bulkWrite(MovieLens.movies(spark, ml), "serve_movies", "movieId")
    Store.bulkWrite(Posting.buildPosting(MovieLens.movies(spark, ml), "movieId",
      Seq("title" -> col("title"), "genres" -> concat_ws(" ", col("genres")))),
      "serve_posting", "variant")
    val movies = Store.read(spark, "serve_movies")
    val posting = Store.read(spark, "serve_posting")
    val service = new Api.Service(() => movies, sleep = _ => (), loadPosting = Some(() => posting))
    require(service.connect(maxRetries = 1, delayMs = 0L), "service did not connect")
    (movies, posting, service)
  }

  /** One HTTP exchange: (status, body, wall ms). */
  private def send(port: Int, r: Req): (Int, String, Double) = {
    val t0 = System.nanoTime()
    val url = s"http://127.0.0.1:$port${r.path}" + (if (r.query.isEmpty) "" else s"?${r.query}")
    val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(r.method)
    if (r.method == "POST") {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val out = c.getOutputStream
      try out.write(Json.render(Map("title" -> r.title)).getBytes(UTF_8)) finally out.close()
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
    (status, body, (System.nanoTime() - t0) / 1e6)
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val rounds = (0 until Clients).map(load(a, _))
    val builds = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val b = build(spark, a)
      ((System.nanoTime() - t0) / 1e9, b)
    }
    val (movies, posting, service) = builds.last._2
    val server = HttpApi.start(service, port = 0)
    val port = server.getAddress.getPort
    // distinct request -> its first response; a repeat that answers
    // differently is recorded for the check
    val seen = new java.util.concurrent.ConcurrentHashMap[String, (Int, String)]
    val unstable = java.util.concurrent.ConcurrentHashMap.newKeySet[String]
    def record(r: Req, status: Int, body: String): Unit = {
      val first = seen.putIfAbsent(r.key, (status, body))
      if (first != null && first != ((status, body))) unstable.add(r.key)
      ()
    }
    try {
      val tw = System.nanoTime()
      rounds(0).take(WarmRounds).flatten.foreach { r =>
        val (s, b, _) = send(port, r); record(r, s, b)
      }
      val warmS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + Stats.median(builds.map(_._1)) + warmS
      val o =
        if (a.trace) traced(spark, port, rounds(0), movies, posting, service, record)
        else timed(a, port, rounds, setupS, record)
      val tc = System.nanoTime()
      dumpChecks(spark, a, movies, seen, unstable)
      val checkS = (System.nanoTime() - tc) / 1e9
      val (files, bytes) = Seq("serve_movies", "serve_posting").map(Main.tableFootprint(spark, _))
        .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
      if (a.trace) o
      else o.copy(metrics = o.metrics :+ ("store_mb" -> bytes / 1e6),
        detail = o.detail ++ Seq("store_files" -> files, "setup_builds_s" -> builds.map(_._1),
          "setup_warmup_s" -> warmS, "setup_session_s" -> sessionS, "check_dump_s" -> checkS))
    } finally server.stop(0)
  }

  /** Runs `f(client)` on one thread per client and waits for all. */
  private def perClient(f: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (0 until Clients).map { c =>
      val t = new Thread(() => try f(c) catch { case e: Throwable => errors.add(e); () })
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Untraced run: every client sends its timed rounds, the rounds after
    * its first. A non-200 answer is a failed operation. The op is a
    * request: `op_p50_ms` is each route's median request time, weighed by
    * the route's exact share of the requests sent.
    */
  private def timed(a: Args, port: Int, rounds: IndexedSeq[IndexedSeq[IndexedSeq[Req]]],
      setupS: Double, record: (Req, Int, String) => Unit): Outcome = {
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]
    val roundMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val failed = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    perClient { c =>
      rounds(c).slice(WarmRounds, WarmRounds + timedRounds(a.seconds)).foreach { round =>
        val tr = System.nanoTime()
        round.foreach { r =>
          val (s, b, ms) = send(port, r)
          if (s != 200) failed.incrementAndGet()
          lat.add(r.route -> ms)
          record(r, s, b)
        }
        roundMs.add((System.nanoTime() - tr) / 1e6)
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val all = lat.asScala.toSeq
    val byRoute = all.groupBy(_._1).map { case (r, xs) => r -> xs.map(_._2) }
    val perRoute = Seq("search", "movie", "recommend").map { r =>
      s"${r}_p50_ms" -> Stats.median(byRoute.getOrElse(r, Nil))
    }
    val weighted = byRoute.values.map(xs => Stats.median(xs) * xs.size).sum / all.size
    Outcome(all.size.toLong, failed.get,
      Seq("setup_s" -> setupS,
        "op_p50_ms" -> weighted,
        "ops_per_s" -> all.size / wallS),
      perRoute ++ Seq("request_p50_ms" -> Stats.median(all.map(_._2)),
        "serve_rps" -> all.size / wallS, "round_ms" -> roundMs.asScala.toSeq, "requests" -> all.size))
  }

  /** Traced run: one client walks client 0's first timed round; each
    * request is sent over HTTP, then handled in-process, then its route's
    * engine calls are timed one by one.
    */
  private def traced(spark: SparkSession, port: Int, rounds: IndexedSeq[IndexedSeq[Req]],
      movies: DataFrame, posting: DataFrame, service: Api.Service,
      record: (Req, Int, String) => Unit): Outcome = {
    val sp = new Spans
    var failed = 0L
    var n = 0L
    val s0 = Snap.take(spark)
    rounds(WarmRounds).foreach { r =>
      val (s, b, http) = send(port, r)
      record(r, s, b)
      sp.add(s"api.http_ms.${r.route}", http)
      val before = Snap.take(spark)
      val h = sp.ms(s"api.handle_ms.${r.route}")(service.handle(r.method, r.path, r.params, r.body))
      val d = Snap.take(spark) - before
      n += 1
      if (s != 200 || h.status != 200) failed += 1
      sp.add("api.transport_ms", http - sp.get(s"api.handle_ms.${r.route}").last)
      sp.add(s"spark.jobs_per_request.${r.route}", d.jobs.toDouble)
      sp.add(s"spark.tasks_per_request.${r.route}", d.tasks.toDouble)
      sp.add(s"catalyst.plan_ms_per_request.${r.route}", d.planMs.toDouble)
      r.route match {
        case "search" =>
          val p = r.params
          val (page, size) = (math.max(1, p("page").toInt),
            if (p("size").toInt < 1 || p("size").toInt > 100) 10 else p("size").toInt)
          sp.ms("engine.search_ms") {
            Engine.searchWithTotalViaPosting(movies, posting, p("q"), page, size)._1.collect()
          }
          sp.ms("search.posting_score_ms")(Posting.score(posting, r.terms, Boosts).collect())
          sp.ms("engine.search_scan_ms") {
            Engine.searchWithTotal(movies, p("q"), page, size)._1.collect()
          }
        case "movie" =>
          sp.ms("engine.movie_ms")(Engine.movieById(movies, r.path.split("/").last.toInt).collect())
        case _ =>
          sp.ms("engine.recommend_ms") {
            Engine.recommend(movies, r.title) match {
              case Engine.Recommendations(_, recs) => recs.collect(); ()
              case _ => ()
            }
          }
      }
      sp.ms("api.health_probe_ms")(Engine.health(movies))
    }
    val total = Snap.take(spark) - s0
    val routes = Seq("search", "movie", "recommend")
    val perRoute = for {
      m <- Seq("api.http_ms", "api.handle_ms", "spark.jobs_per_request",
        "spark.tasks_per_request", "catalyst.plan_ms_per_request")
      r <- routes
    } yield s"$m.$r" -> sp.median(s"$m.$r")
    val layer = Seq("api.transport_ms", "api.health_probe_ms", "engine.search_ms",
      "engine.search_scan_ms", "engine.movie_ms", "engine.recommend_ms", "search.posting_score_ms")
      .map(m => m -> sp.median(m))
    Outcome(n, failed, perRoute ++ layer ++ total.sparkMetrics)
  }

  /** Files run.py checks: every distinct response, any request whose
    * repeats answered differently, and the full-scan search
    * (`Engine.searchWithTotal`) for every distinct query sent.
    */
  private def dumpChecks(spark: SparkSession, a: Args, movies: DataFrame,
      seen: java.util.concurrent.ConcurrentHashMap[String, (Int, String)],
      unstable: java.util.Set[String]): Unit = {
    val resp = seen.asScala.toSeq.sortBy(_._1).map { case (k, (s, b)) => s"$k\t$s\t$b" }
    Files.write(Paths.get(a.out("responses.tsv")), resp.asJava, UTF_8)
    Files.write(Paths.get(a.out("unstable.tsv")), unstable.asScala.toSeq.sorted.asJava, UTF_8)
    val queries = seen.keySet.asScala.toSeq.map(_.split("\t", -1)).collect {
      case Array("search", _, _, q, _) => Req("search", "GET", "/search", q, "").params("q")
    }.distinct.sorted
    val scans = queries.map { q =>
      val (page, total) = Engine.searchWithTotal(movies, q, 1, 100)
      val rows = page.select("movieId", "score").collect().map(r => s"${r.get(0)}:${r.get(1)}")
      s"$q\t$total\t${rows.mkString(",")}"
    }
    Files.write(Paths.get(a.out("scans.tsv")), scans.asJava, UTF_8)
    ()
  }
}
