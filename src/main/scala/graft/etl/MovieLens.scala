package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MovieLens-100k ETL — the reference's batch dataflow re-expressed as one
  * declarative pass each (reference: `/root/reference/src/preprocessing.py`,
  * `/root/reference/src/elasticsearch_ingest.py`).
  *
  * Design deltas from the reference, intentional:
  *  - genre unpivot is a single projection (`array_compact` over
  *    per-flag `when`s), not 18 filter+union scans
  *    (`elasticsearch_ingest.py:46-61`);
  *  - `genres` carries genre NAMES (the ES/serving semantics). The
  *    reference's other pipeline (`preprocessing.py:18`) builds an array of
  *    "0"/"1" flag strings — documented as a reference quirk we do not
  *    replicate (SURVEY §1.4);
  *  - explicit schemas everywhere (the reference infers or reads all-string).
  */
object MovieLens {

  /** Directory holding the MovieLens-100k files (`u.data`, `u.item`,
    * `processed_data.parquet`): `SPARK_GRAFT_MOVIELENS_DIR`, else the
    * reference checkout's `data/` dir. A deployment path, read once.
    */
  val DataDir: String =
    sys.env.getOrElse("SPARK_GRAFT_MOVIELENS_DIR", "/root/reference/data")

  /** Typed rows for the Dataset API surface — compile-time checked field
    * access where it helps (ETL plumbing); DataFrame everywhere schemas are
    * dynamic.
    */
  final case class Rating(userId: Int, movieId: Int, rating: Int, timestamp: Int)
  final case class Movie(movieId: Int, title: String, release_date: String, genres: Seq[String])

  /** 19 one-hot genre flag columns of `u.item`, in file order
    * (`preprocessing.py:13-14`).
    */
  val genreFlags: Seq[String] = Seq(
    "unknown", "Action", "Adventure", "Animation", "Childrens", "Comedy",
    "Crime", "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror",
    "Musical", "Mystery", "Romance", "Sci-Fi", "Thriller", "War", "Western")

  /** Name-array semantics skip the `unknown` flag
    * (`elasticsearch_ingest.py:49`) — movies 267/1373 end up genre-less.
    */
  val genreNames: Seq[String] = genreFlags.filterNot(_ == "unknown")

  val ratingsSchema: StructType = StructType(Seq(
    StructField("userId", IntegerType, nullable = false),
    StructField("movieId", IntegerType, nullable = false),
    StructField("rating", IntegerType, nullable = false),
    StructField("timestamp", IntegerType, nullable = false)))

  private val movieMetaCols =
    Seq("movieId", "title", "release_date", "video_release_date", "imdb_url")

  val moviesRawSchema: StructType =
    StructType((movieMetaCols ++ genreFlags).map(StructField(_, StringType, nullable = true)))

  /** S1: `u.data` TSV with explicit schema (reference infers,
    * `preprocessing.py:6-7`).
    */
  def ratings(spark: SparkSession, dataDir: String = DataDir): DataFrame =
    spark.read
      .option("delimiter", "\t")
      .schema(ratingsSchema)
      .csv(s"$dataDir/u.data")

  /** Typed view of [[ratings]]: `Dataset[Rating]` — field typos/type drift
    * fail at compile time instead of at `analyze`.
    */
  def ratingsDs(spark: SparkSession, dataDir: String = DataDir): org.apache.spark.sql.Dataset[Rating] = {
    import spark.implicits._
    ratings(spark, dataDir).as[Rating]
  }

  /** Typed view of [[movies]]. */
  def moviesDs(spark: SparkSession, dataDir: String = DataDir): org.apache.spark.sql.Dataset[Movie] = {
    import spark.implicits._
    movies(spark, dataDir).as[Movie]
  }

  /** S2/S3: `u.item` pipe-CSV, ISO-8859-1 (Latin-1 titles like `Misérables`
    * would be mojibake without the encoding option — SURVEY §7.5.3).
    */
  def moviesRaw(spark: SparkSession, dataDir: String = DataDir): DataFrame =
    spark.read
      .option("delimiter", "|")
      .option("encoding", "ISO-8859-1")
      .schema(moviesRawSchema)
      .csv(s"$dataDir/u.item")

  /** U1 as a single pass: wide one-hot flags → `genres: array<string>` of
    * names. One projection, zero shuffles, codegen'd — vs the reference's
    * 18 filtered scans + unions + groupBy + left join
    * (`elasticsearch_ingest.py:46-70`).
    * Genre-less movies get an EMPTY array (the reference indexes `[]`,
    * `elasticsearch_ingest.py:119-124`).
    */
  def movies(spark: SparkSession, dataDir: String = DataDir): DataFrame =
    moviesRaw(spark, dataDir).select(
      col("movieId").cast(IntegerType).as("movieId"),
      col("title"),
      col("release_date"),
      array_compact(
        array(genreNames.map(g => when(col(g) === "1", lit(g))): _*)).as("genres"))

  /** The reference's `preprocessing.py` pipeline: ratings na.drop ⋈ movies
    * (broadcast — 1,682-row dimension) → denormalized per-rating table.
    * Output schema matches `processed_data.parquet` except `genres` carries
    * names (see object doc).
    */
  def processed(spark: SparkSession, dataDir: String = DataDir): DataFrame =
    ratings(spark, dataDir)
      .na.drop()
      .join(broadcast(movies(spark, dataDir)), Seq("movieId"), "inner")
      .select(col("movieId"), col("userId"), col("rating"), col("timestamp"),
        col("title"), col("genres"))

  /** S4: parquet sink for the processed table (`preprocessing.py:24`). */
  def writeProcessed(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** A2/P6/O1 diagnostics: histogram of per-movie genre-count
    * (`elasticsearch_ingest.py:81`). Counts NAME genres (unknown excluded).
    */
  def genreCountHistogram(movies: DataFrame): DataFrame =
    movies
      .withColumn("num_genres", size(col("genres")))
      .groupBy(col("num_genres"))
      .agg(count(lit(1)).as("n_movies"))
      .orderBy(col("num_genres"))

  /** A2 over the raw flags (including `unknown`) — the golden-test variant
    * whose expected histogram is {1:833, 2:569, 3:215, 4:51, 5:11, 6:3}
    * (BASELINE.md).
    */
  def flagCountHistogram(moviesRaw: DataFrame): DataFrame = {
    val flagSum = genreFlags.map(g => when(col(g) === "1", 1).otherwise(0)).reduce(_ + _)
    moviesRaw
      .withColumn("num_flags", flagSum)
      .groupBy(col("num_flags"))
      .agg(count(lit(1)).as("n_movies"))
      .orderBy(col("num_flags"))
  }

  /** A3: top-k genre frequency (ES `terms` agg analog,
    * `elasticsearch_ingest.py:158-163`), deterministic tie-break.
    */
  def topGenres(movies: DataFrame, k: Int = 20): DataFrame =
    movies
      .select(explode(col("genres")).as("genre"))
      .groupBy(col("genre"))
      .agg(count(lit(1)).as("n_movies"))
      .orderBy(col("n_movies").desc, col("genre"))
      .limit(k)
}
