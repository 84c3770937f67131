package graft.search

import graft.{MovieLensFixture, SparkSpec}
import graft.api.Engine
import graft.etl.MovieLens
import graft.functions.DeletionVariantsExpr
import org.apache.spark.sql.functions._

class PostingSpec extends SparkSpec {

  test("deletion_variants kernel: counts, membership, and the SymSpell superset guarantee") {
    val vs = DeletionVariantsExpr.variantsOf("star", 2)
    assert(vs.head === "star", "original comes first")
    assert(vs.contains("sar") && vs.contains("st") && vs.contains("tar"))
    // distinct: "aa" deletions collapse
    assert(DeletionVariantsExpr.variantsOf("aaa", 2).toSet === Set("aaa", "aa", "a"))
    assert(DeletionVariantsExpr.variantsOf("", 2) === Seq(""))
    // superset guarantee on a brute-forced sample: lev(a,b) <= d implies a
    // shared <=d-deletion variant (this is what makes the equi-join a safe
    // candidate pre-gate)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val words = Seq("star", "wars", "wras", "trek", "sta", "stars", "tsar", "rats", "", "a")
    for (a <- words; b <- words; d <- 1 to 2 if lev(a, b) <= d) {
      val shared = DeletionVariantsExpr.variantsOf(a, d).toSet
        .intersect(DeletionVariantsExpr.variantsOf(b, d).toSet)
      assert(shared.nonEmpty, s"lev('$a','$b')=${lev(a, b)} <= $d but no shared variant")
    }
  }

  test("native expression matches the kernel through eval AND codegen") {
    import spark.implicits._
    val df = Seq("star", "Misérables", "a", "").toDF("t")
      .select(col("t"), DeletionVariantsExpr.deletion_variants(col("t"), lit(2)).as("v"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) === DeletionVariantsExpr.variantsOf(r.getString(0), 2))
    }
  }

  test("posting search ≡ full-scan fuzzyMultiMatch search on the whole movies corpus") {
    val movies = MovieLens.movies(spark, MovieLensFixture.dir)
    val posting = Posting.buildPosting(
      movies, "movieId",
      Seq("title" -> col("title"), "genres" -> concat_ws(" ", col("genres"))))
    // span the AUTO budget regimes: exact-only (len<3), 1-edit (3..5),
    // 2-edit (>5), multi-term, typo'd, a no-hit query, and repeated terms
    // (each occurrence scores, in any letter case)
    val queries = Seq("star wras", "toy", "misarables", "of", "amadeus philadelphia", "zzzzqq",
      "western western", "Star star wras")
    for (q <- queries) {
      val full = Engine.search(movies, q, page = 1, size = 50)
        .select("movieId", "score").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      val viaIdx = Engine.searchViaPosting(movies, posting, q, page = 1, size = 50)
        .select("movieId", "score").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(viaIdx === full, s"posting path diverged for query '$q'")
    }
  }

  test("idf scoring: a rare-term match outranks a common-term match that term counts tie") {
    import spark.implicits._
    // 20 docs match 'common', exactly one matches 'rarest' — under plain
    // term-count scoring both match-classes score 3 (a tie the reference's
    // BM25 ordering would never produce); the idf weights break it
    val docs = ((1 to 20).map(i => (i, s"common filler$i")) :+ ((100, "rarest thing")))
      .toDF("id", "title")
    val posting = Posting.buildPosting(docs, "id", Seq("title" -> col("title")))
    val plain = Posting.score(posting, Seq("common", "rarest"), Seq("title" -> 3))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(plain(100) === plain(1), "term-count scoring ties rare and common matches")
    val idf = Posting.scoreIdf(posting, Seq("common", "rarest"), Seq("title" -> 3),
        nDocs = 21L)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(idf(100) > idf(1), "idf must rank the rare-term match above the common one")
    // exact fixed-point weights: w = round(1000·ln((N+1)/(df+1)))
    val wCommon = math.round(1000.0 * math.log(22.0 / 21.0))
    val wRare = math.round(1000.0 * math.log(22.0 / 2.0))
    assert(idf(1) === 3L * wCommon)
    assert(idf(100) === 3L * wRare)
  }
}
