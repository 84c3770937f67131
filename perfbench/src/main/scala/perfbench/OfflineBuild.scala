package perfbench

import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

import graft.etl.MovieLens
import graft.ml.AlsPipeline
import graft.search.Posting
import graft.sources.Store

/** The paper's batch jobs as one chain: `u.item` -> movies table,
  * `u.data` -> processed table, ALS -> top-10 serving table, posting
  * index, item similarity; every table bulk-written to the Store.
  */
object OfflineBuild {
  val Tables = Seq("ob_movies", "ob_serving", "ob_posting", "ob_similar")

  /** A frame materialized once, so its own step is timed apart from the
    * Store write that consumes it.
    */
  private def built(sp: Spans, span: String)(df: => DataFrame): DataFrame =
    sp.ms(span) { val d = df.persist(); d.count(); d }

  private def chain(spark: SparkSession, a: Args, sp: Spans): ALSModel = {
    val ml = s"${a.dir}/ml"
    val processed = s"${a.dir}/processed_data.parquet"
    val movies = built(sp, "etl.movies_ms")(MovieLens.movies(spark, ml))
    sp.ms("store.bulk_write_ms")(Store.bulkWrite(movies, "ob_movies", "movieId"))
    sp.ms("etl.processed_ms")(MovieLens.writeProcessed(MovieLens.processed(spark, ml), processed))
    val model = sp.ms("ml.als_train_ms") {
      AlsPipeline.train(spark.read.parquet(processed).select("userId", "movieId", "rating"))
    }
    val recs = built(sp, "ml.recommend_all_ms")(AlsPipeline.recommendAll(model, 10))
    sp.ms("store.bulk_write_ms")(Store.bulkWrite(recs, "ob_serving", "userId"))
    val posting = built(sp, "search.posting_build_ms")(Posting.buildPosting(movies, "movieId",
      Seq("title" -> col("title"), "genres" -> concat_ws(" ", col("genres")))))
    sp.ms("store.bulk_write_ms")(Store.bulkWrite(posting, "ob_posting", "variant"))
    val sims = built(sp, "ml.item_similarity_ms")(AlsPipeline.itemSimilarity(model, 5))
    sp.ms("store.bulk_write_ms")(Store.bulkWrite(sims, "ob_similar", "movieId"))
    model
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val sp = new Spans
    var spark_ = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)
    var timedS = 0.0
    var chains = 0
    var done = false
    while (!done) {
      val before = Snap.take(spark)
      val t0 = System.nanoTime()
      val model = chain(spark, a, sp)
      val s = (System.nanoTime() - t0) / 1e9
      spark_ = spark_ + (Snap.take(spark) - before)
      sp.add("chain_s", s)
      timedS += s
      chains += 1
      // whole chains only, and none that would end past the run's seconds
      done = timedS + s > a.seconds
      if (done) dumpChecks(spark, a, model)
      Main.release(spark)
    }
    val footprint = Tables.map(Main.tableFootprint(spark, _))
    val (files, bytes) = (footprint.map(_._1).sum, footprint.map(_._2).sum)
    val perChain = (m: String) => sp.sum(m) / 1e3 / chains
    if (a.trace)
      Outcome(chains, 0, Seq(
        "etl.movies_s" -> perChain("etl.movies_ms"),
        "etl.processed_s" -> perChain("etl.processed_ms"),
        "ml.als_train_s" -> perChain("ml.als_train_ms"),
        "ml.recommend_all_s" -> perChain("ml.recommend_all_ms"),
        "ml.item_similarity_s" -> perChain("ml.item_similarity_ms"),
        "search.posting_build_s" -> perChain("search.posting_build_ms"),
        "store.bulk_write_s" -> perChain("store.bulk_write_ms"),
        "store.files_written" -> files.toDouble,
        "store.bytes_written" -> bytes.toDouble) ++ spark_.sparkMetrics)
    else
      Outcome(chains, 0, Seq(
        "setup_s" -> sessionS,
        "op_p50_ms" -> Stats.median(sp.get("chain_s")) * 1e3,
        "ops_per_s" -> chains / timedS,
        "store_mb" -> bytes / 1e6),
        Seq("build_s" -> Stats.median(sp.get("chain_s")), "chains" -> chains,
          "store_files" -> files, "setup_session_s" -> sessionS))
  }

  /** Files run.py checks, from the last chain's tables and model. */
  private def dumpChecks(spark: SparkSession, a: Args, model: ALSModel): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(a.out(name))
    save(Store.read(spark, "ob_movies"), "movies")
    save(Store.read(spark, "ob_serving"), "serving")
    save(Store.read(spark, "ob_similar"), "similar")
    save(model.userFactors, "user_factors")
    save(model.itemFactors, "item_factors")
    // Store.lookup against a filtered Store.read, for every 47th user
    val users = (1 to 943 by 47).toSeq
    save(Store.lookup(spark, "ob_serving", users), "lookup")
    save(Store.read(spark, "ob_serving").filter(col("userId").isin(users: _*)), "lookup_read")
  }
}
