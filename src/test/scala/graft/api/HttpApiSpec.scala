package graft.api

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import graft.{MovieLensFixture, SparkSpec}
import graft.etl.MovieLens

/** End-to-end transport test: real HTTP requests over a real socket
  * against [[HttpApi]] on an ephemeral port — status codes, JSON bodies,
  * query-string decoding, and the reference's error envelopes, through
  * the exact bytes a client would see.
  */
class HttpApiSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  @volatile private var started = false

  private lazy val (server, base) = {
    val service = new Api.Service(() => MovieLens.movies(spark, MovieLensFixture.dir))
    assert(service.connect(maxRetries = 1, delayMs = 0L))
    val srv = HttpApi.start(service, port = 0)
    started = true
    (srv, s"http://127.0.0.1:${srv.getAddress.getPort}")
  }

  private def request(
      method: String, pathAndQuery: String, body: Option[String] = None): (Int, String) = {
    val conn = URI.create(s"$base$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val out = conn.getOutputStream
      try out.write(b.getBytes(UTF_8)) finally out.close()
    }
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(stream.readAllBytes(), UTF_8)
    conn.disconnect()
    (status, text)
  }

  test("GET / and /health round-trip over the socket") {
    val (st, body) = request("GET", "/")
    assert(st === 200 && body.contains("\"status\":\"API running\""))
    val (hs, hb) = request("GET", "/health")
    assert(hs === 200 && hb.contains("\"store\":\"OK\""))
  }

  test("POST /recommend serves recommendations; bad JSON gets the 400 envelope") {
    val (st, body) = request("POST", "/recommend",
      Some("""{"title": "Toy Story (1995)"}"""))
    assert(st === 200, body)
    assert(body.contains("\"recommendations\":[") && body.contains("\"movie\":"))
    val (bad, badBody) = request("POST", "/recommend", Some("{not json"))
    assert(bad === 400 && badBody === """{"error":"Invalid JSON"}""")
    // unicode escapes in the body reach the engine decoded
    val (ds, dBody) = request("POST", "/recommend", Some("""{"title": "Misérables"}"""))
    assert(ds === 200 || ds === 404, dBody) // decoded title reaches the phrase match
  }

  test("GET /movie/<id> and unknown routes") {
    val (st, body) = request("GET", "/movie/1")
    assert(st === 200 && body.contains("Toy Story (1995)"))
    assert(request("GET", "/movie/999999")._1 === 404)
    val (ns, nb) = request("GET", "/nope")
    assert(ns === 404 && nb === """{"error":"Endpoint not found"}""")
  }

  test("GET /search decodes query strings; clamps and the 500 parity envelope apply") {
    val (st, body) = request("GET", "/search?q=star+wras&size=3")
    assert(st === 200, body)
    assert(body.contains("\"page\":1") && body.contains("\"size\":3")
      && body.contains("\"movies\":["))
    val (cs, cb) = request("GET", "/search?q=star&page=0&size=500")
    assert(cs === 200 && cb.contains("\"page\":1") && cb.contains("\"size\":10"))
    val (es, eb) = request("GET", "/search?q=star&page=two")
    assert(es === 500 &&
      eb === """{"error":"Error during search: invalid literal for int() with base 10: 'two'"}""")
    assert(request("GET", "/search")._1 === 400)
  }

  test("duplicate query params: first occurrence wins (werkzeug MultiDict parity)") {
    // reference: request.args.get("page") reads the FIRST duplicate, so
    // ?page=1&page=x is 200 page=1 there — not the 500 int() envelope
    val (st, body) = request("GET", "/search?q=star&page=1&page=x")
    assert(st === 200, body)
    assert(body.contains("\"page\":1"))
    val (s2, b2) = request("GET", "/search?q=star&page=x&page=1")
    assert(s2 === 500, b2)
  }

  test("JSON parser: strict twin of the renderer") {
    import HttpApi.Json.parseObject
    assert(parseObject("""{"a": 1, "b": [true, null, "x\n"], "c": {"d": 2.5}}""") ===
      Some(Map("a" -> 1L, "b" -> Seq(true, null, "x\n"), "c" -> Map("d" -> 2.5))))
    assert(parseObject("""{"a": 1} trailing""") === None)
    assert(parseObject("""[1, 2]""") === None, "top level must be an object")
    assert(parseObject("""{"a": }""") === None)
    assert(parseObject("""{"unterminated": "x""") === None)
    assert(parseObject("") === None)
    // the Eof sentinel is guarded by atEnd: a literal NUL mid-string is
    // appended verbatim, not treated as end-of-input
    assert(parseObject("{\"a\": \"x\u0000y\"}") === Some(Map("a" -> "x\u0000y")))
  }

  override def afterAll(): Unit = if (started) server.stop(0)
}
