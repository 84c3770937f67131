package graft.ml

import graft.{MovieLensFixture, SparkSpec}
import graft.etl.MovieLens
import org.apache.spark.sql.functions._

/** Seeded ALS smoke test (SURVEY §5.2 #5): shape + bounds, never hashes —
  * ALS output varies across partitionings.
  * Trains on a user subset to keep the suite fast; the full-data path is
  * identical code (q46_ml_als_recommend).
  */
class AlsSpec extends SparkSpec {

  test("ALS trains and yields exactly 10 finite recs per user with bounded RMSE") {
    MovieLensFixture.requireReference("u.data")
    val ratings = MovieLens.ratings(spark)
      .filter(col("userId") <= 150)
      .select("userId", "movieId", "rating")
      .cache()
    val Array(train, test) = ratings.randomSplit(Array(0.8, 0.2), seed = 42L)
    val model = AlsPipeline.train(train, maxIter = 5)
    val recs = AlsPipeline.recommendAll(model, k = 10).cache()

    val perUser = recs.groupBy("userId").count().select("count").distinct().collect()
    assert(perUser.length === 1 && perUser(0).getLong(0) === 10L,
      "every user must get exactly 10 recommendations")
    val nUsers = recs.select("userId").distinct().count()
    assert(nUsers === train.select("userId").distinct().count())
    val bad = recs.filter(col("predicted_rating").isNull ||
      isnan(col("predicted_rating"))).count()
    assert(bad === 0L)

    val err = AlsPipeline.rmse(model, test)
    assert(err < 1.6, s"held-out RMSE too high: $err")
  }

  test("closed-form rank-1 fixture: predictions match the analytic factorization to 1e-3") {
    // VERDICT r4 #2: the RMSE bound can't catch a silently broken
    // objective/regularization. This can: ratings are EXACTLY r(u,i) =
    // a_u · b_i, so the rank-1 least-squares factorization is analytically
    // the (a, b) outer product (up to a scale split between the factors,
    // which the product prediction is invariant to). With rank=1 and
    // near-zero reg, ALS must reproduce every observed cell AND the
    // held-out cell to high precision — a wrong loss, a sign slip, or
    // broken regularization shifts predictions far beyond 1e-3.
    import spark.implicits._
    val a = Map(1 -> 1.0, 2 -> 1.2, 3 -> 1.6, 4 -> 2.0)
    val b = Map(10 -> 1.0, 20 -> 1.5, 30 -> 2.0, 40 -> 2.5)
    val cells = for (u <- a.keys.toSeq.sorted; i <- b.keys.toSeq.sorted)
      yield (u, i, (a(u) * b(i)).toFloat)
    val heldOut = (4, 40) // generalization, not just interpolation
    val trainDf = cells.filterNot(c => (c._1, c._2) == heldOut)
      .toDF("userId", "movieId", "rating").coalesce(1)
    val model = AlsPipeline.train(trainDf, maxIter = 25, regParam = 1e-6, rank = 1)
    val preds = model
      .transform(cells.toDF("userId", "movieId", "rating").coalesce(1))
      .select("userId", "movieId", "rating", "prediction")
      .collect()
    assert(preds.length === cells.length, "cold-start drop must not remove known users/items")
    preds.foreach { r =>
      val (expect, got) = (r.getFloat(2), r.getFloat(3))
      assert(math.abs(expect - got) < 1e-3,
        s"analytic value missed for (${r.getInt(0)}, ${r.getInt(1)}): expected $expect, got $got")
    }
  }
}
