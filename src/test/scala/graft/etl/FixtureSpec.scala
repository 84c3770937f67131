package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.MovieLensFixture
import org.scalatest.funsuite.AnyFunSuite

/** Pins `fixtures/u_item_utf8.csv` (the DuckDB-readable oracle input for
  * q40/q42/q43 — DuckDB 1.0 can't decode ISO-8859-1) byte-for-byte to a
  * fresh transcode of the reference's `u.item`. If the fixture drifts from
  * the reference data, the ML oracles silently verify the wrong expected
  * values; this spec makes that loud. The reference `u.item` is read from
  * [[MovieLens.DataDir]]; comparing the fixture with its own Latin-1
  * re-encoding would check nothing, so without that file the golden fails.
  */
class FixtureSpec extends AnyFunSuite {

  test("u_item_utf8.csv is exactly the ISO-8859-1 -> UTF-8 transcode of u.item") {
    MovieLensFixture.requireReference("u.item")
    val raw = Files.readAllBytes(Paths.get(MovieLens.DataDir, "u.item"))
    val transcoded =
      new String(raw, StandardCharsets.ISO_8859_1).getBytes(StandardCharsets.UTF_8)
    val fixture = Files.readAllBytes(MovieLensFixture.utf8Csv)
    assert(fixture.sameElements(transcoded),
      "fixtures/u_item_utf8.csv is stale — regenerate with " +
        "`iconv -f ISO-8859-1 -t UTF-8 /root/reference/data/u.item`")
  }

  test("fixture helper: Latin-1 re-encoding inverts the transcode; refuses chars above U+00FF") {
    val latin = "Misérables, Les (1995)|ÿ".getBytes(StandardCharsets.ISO_8859_1)
    val utf8 = new String(latin, StandardCharsets.ISO_8859_1).getBytes(StandardCharsets.UTF_8)
    assert(MovieLensFixture.latin1(utf8, "case").sameElements(latin))
    for (bad <- Seq("Ā", "€", "\uD83C\uDFAC")) {
      val e = intercept[IllegalArgumentException](
        MovieLensFixture.latin1(s"ok|$bad".getBytes(StandardCharsets.UTF_8), "case"))
      assert(e.getMessage.contains("at char 3"), e.getMessage)
    }
    // malformed UTF-8 decodes to U+FFFD, so it is refused too
    intercept[IllegalArgumentException](MovieLensFixture.latin1(latin, "case"))
    // the committed fixture itself passes the check
    assert(MovieLensFixture.latin1(Files.readAllBytes(MovieLensFixture.utf8Csv), "fixture").nonEmpty)
  }
}
