package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path, Paths}

import graft.etl.MovieLens
import org.scalatest.Assertions

/** MovieLens inputs for the specs.
  *
  * Specs that only need *a* movies table read [[dir]]: the reference's
  * `u.item`, rebuilt from the committed `fixtures/u_item_utf8.csv`. That
  * fixture is the UTF-8 transcode of the ISO-8859-1 `u.item` (FixtureSpec
  * pins it byte-for-byte wherever the reference data is present), so every
  * character in it is ≤ U+00FF and encoding it back as ISO-8859-1 restores
  * the reference bytes exactly. The specs pass [[dir]] to the unchanged
  * [[MovieLens]] loaders, so the real Latin-1 decode path runs on the real
  * bytes.
  *
  * Golden specs that need the reference data itself (`u.data`,
  * `processed_data.parquet`, or `u.item` to compare the fixture against)
  * call [[requireReference]] first.
  */
object MovieLensFixture {

  /** `fixtures/u_item_utf8.csv` of THIS checkout: resolved against the
    * project root, which is the forked test JVM's working directory.
    */
  val utf8Csv: Path = Paths.get("fixtures", "u_item_utf8.csv").toAbsolutePath

  /** ISO-8859-1 bytes of UTF-8 text; refuses text holding any character
    * above U+00FF (malformed UTF-8 decodes to U+FFFD and is refused too),
    * since such text cannot be a transcode of a Latin-1 file.
    */
  def latin1(utf8: Array[Byte], source: String): Array[Byte] = {
    val text = new String(utf8, UTF_8)
    val i = text.indexWhere(_ > '\u00ff')
    require(i < 0, f"$source holds U+${text(i).toInt}%04X at char $i: " +
      "not ISO-8859-1 encodable, so it is not a transcode of the Latin-1 u.item")
    text.getBytes(ISO_8859_1)
  }

  /** A temp dir holding the Latin-1 `u.item`, written once per JVM. */
  lazy val dir: String = {
    val bytes = latin1(Files.readAllBytes(utf8Csv), utf8Csv.toString)
    val d = Files.createTempDirectory("movielens-fixture")
    d.toFile.deleteOnExit()
    val item = Files.write(d.resolve("u.item"), bytes)
    item.toFile.deleteOnExit()
    d.toString
  }

  /** Fails the calling test, before it touches any data, unless every named
    * reference file is present in [[MovieLens.DataDir]]. A plain failure,
    * not a skip: these goldens stay red until the data is there.
    */
  def requireReference(files: String*): Unit = {
    val dataDir = Paths.get(MovieLens.DataDir).toAbsolutePath
    val missing = files.filterNot(f => Files.exists(dataDir.resolve(f)))
    if (missing.nonEmpty)
      Assertions.fail(s"MovieLens reference data missing: ${missing.mkString(", ")} " +
        s"not found in $dataDir (set SPARK_GRAFT_MOVIELENS_DIR to the directory " +
        "holding the MovieLens-100k u.data, u.item and processed_data.parquet)")
  }
}
