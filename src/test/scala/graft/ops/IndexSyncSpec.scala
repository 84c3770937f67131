package graft.ops

import graft.SparkSpec
import graft.sources.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CDC→index contract both ways: each synced index equals the
  * from-scratch rebuild row-for-row, and applying a fixed changelog runs
  * the SAME number of Spark jobs whatever the indexed corpus size — the
  * O(changelog)-jobs-not-O(table) claim of [[IndexSync]], made executable.
  */
class IndexSyncSpec extends SparkSpec {
  import spark.implicits._

  /** A corpus with real 3-shingles, planted duplicates, and enough rows to
    * spread over hash partitions.
    */
  private def corpus(n: Int): DataFrame =
    (1 to n).map { i =>
      val body =
        if (i % 7 == 0) "the shared duplicate body text appears again here"
        else s"unique document number $i with some connecting words around it"
      (i.toLong, body)
    }.toDF("doc_id", "text")

  /** Mutations: update %5 (append marker), insert two re-keyed copies,
    * delete %9. Returns (mutated corpus view, the two changelogs applied).
    */
  private def mutate(table: String, docs: DataFrame): Seq[DataFrame] = {
    val upd = docs.filter($"doc_id" % 5 === 0)
      .withColumn("text", concat($"text", lit(" updated")))
    val ins = docs.filter($"doc_id" % 11 === 0)
      .withColumn("doc_id", $"doc_id" + lit(5000L))
    Store.upsert(spark, table, upd.unionByName(ins), "doc_id", buckets = 2)
    val v01 = Store.versions(spark, table)
    val step1 = Store.changes(spark, table, v01.head, v01.last).localCheckpoint()
    Store.delete(spark, table,
      docs.filter($"doc_id" % 9 === 0).select($"doc_id"), "doc_id", buckets = 2)
    val v12 = Store.versions(spark, table)
    val step2 = Store.changes(spark, table, v12.head, v12.last).localCheckpoint()
    Seq(step1, step2)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSet

  test("syncExactIndex: changelog-applied index equals the post-state rebuild") {
    val docs = corpus(120)
    Store.bulkWrite(docs, "isx_docs", "doc_id", buckets = 2, parts = 4,
      validateKeys = true)
    IndexSync.buildExactIndex(spark, docs, "isx_idx", "doc_id", "text")
    try {
      mutate("isx_docs", docs).foreach(ch =>
        IndexSync.syncExactIndex(spark, ch, "isx_idx", "doc_id", "text"))
      val post = Store.read(spark, "isx_docs")
      val rebuilt = post.select($"doc_id",
        Dedup.exactFingerprint($"text").as("fingerprint"))
      assert(rows(Store.read(spark, "isx_idx")) === rows(rebuilt))
      // and the derived keeper view equals exactGroups over the post state
      val keepers = Dedup.exactGroups(post, "doc_id", "text")
        .select($"fingerprint", $"keep_id".as("keeper"), $"n_copies")
      assert(rows(IndexSync.exactKeeperView(spark, "isx_idx", "doc_id")
        .select($"fingerprint", $"keeper", $"n_copies")) === rows(keepers))
    } finally Seq("isx_docs", "isx_idx")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("syncSignatureIndex: sign-less post-images drop; index equals rebuild") {
    val docs = corpus(120)
    Store.bulkWrite(docs, "iss_docs", "doc_id", buckets = 2, parts = 4,
      validateKeys = true)
    IndexSync.buildSignatureIndex(spark, docs, "iss_idx", "doc_id", "text")
    try {
      // an update that shrinks doc 10 below w=3 tokens: its index row must
      // vanish, not linger with the old text's signature
      Store.upsert(spark, "iss_docs",
        Seq((10L, "too short")).toDF("doc_id", "text"), "doc_id", buckets = 2)
      val v = Store.versions(spark, "iss_docs")
      IndexSync.syncSignatureIndex(spark,
        Store.changes(spark, "iss_docs", v.head, v.last), "iss_idx",
        "doc_id", "text")
      assert(Store.read(spark, "iss_idx").filter($"doc_id" === 10L).isEmpty)
      mutate("iss_docs", docs).foreach(ch =>
        IndexSync.syncSignatureIndex(spark, ch, "iss_idx", "doc_id", "text"))
      val rebuilt = Dedup.minhashSignaturesScanLocal(
        Store.read(spark, "iss_docs"), "doc_id", "text", k = 4, w = 3)
      assert(rows(Store.read(spark, "iss_idx")) === rows(rebuilt))
    } finally Seq("iss_docs", "iss_idx")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("syncNoveltyIndex: min-merge equals the rebuild over everything ever seen") {
    val docs = corpus(120)
    Store.bulkWrite(docs, "isn_docs", "doc_id", buckets = 2, parts = 4,
      validateKeys = true)
    IndexSync.buildNoveltyIndex(spark, docs, "isn_idx", "doc_id", "text")
    try {
      val Seq(step1, step2) = mutate("isn_docs", docs)
      IndexSync.syncNoveltyIndex(spark, step1, "isn_idx", "doc_id", "text")
      IndexSync.syncNoveltyIndex(spark, step2, "isn_idx", "doc_id", "text")
      // ever-seen = the pre-state corpus UNION every applied post-image
      // (deletes retract nothing; step2 carries only deletes here, so its
      // apply is a no-op — included to prove exactly that)
      val everSeen = docs.unionByName(
        step1.filter($"change_type".isin("insert", "update"))
          .select($"doc_id", $"text"))
      val rebuilt = Training.noveltyFirstIndex(everSeen, "doc_id", "text", w = 3)
      assert(rows(Store.read(spark, "isn_idx")) === rows(rebuilt))
      // an id smaller than a stored first WINS its shingle on a later sync
      val early = Seq((0L, "the shared duplicate body text appears again here"))
        .toDF("doc_id", "text")
      Store.upsert(spark, "isn_docs", early, "doc_id", buckets = 2)
      val v = Store.versions(spark, "isn_docs")
      IndexSync.syncNoveltyIndex(spark,
        Store.changes(spark, "isn_docs", v.head, v.last), "isn_idx",
        "doc_id", "text")
      val dupFirst = Store.read(spark, "isn_idx")
        .filter($"shingle" === "the shared duplicate").head().getLong(1)
      assert(dupFirst === 0L)
    } finally Seq("isn_docs", "isn_idx")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("syncIvfIndex: inserts appear, updates supersede, deletes vanish, re-inserts return") {
    // two orthogonal clusters in 4 dims; queries probe both cells so the
    // resolution logic is exercised independently of cell pruning
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0.1f, 0.9f, 0f)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfsync").toString
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", nCentroids = 2), path)
    Store.bulkWrite(corpus, "ivfsync_docs", "vec_id", buckets = 2, parts = 2,
      validateKeys = true)
    try {
      def applyLatest(): Unit = {
        val v = Store.versions(spark, "ivfsync_docs")
        IndexSync.syncIvfIndex(spark,
          Store.changes(spark, "ivfsync_docs", v.head, v.last), path,
          "vec_id", "embedding")
      }
      def neighbors(): Map[Long, Double] = {
        val q = Seq((100L, Seq(1f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
        Similarity.ivfQuerySynced(spark, path, q, "vec_id", "embedding",
            k = 10, nProbe = 2)
          .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
      }
      // commit 1: insert 10 near cluster 1, UPDATE 3 into cluster 1 —
      // applied before the next commit slides it out of the last-2
      // retention window (each commit's changelog applies once, in order)
      Store.upsert(spark, "ivfsync_docs",
        Seq((10L, Seq(0.95f, 0.05f, 0f, 0f)),
            (3L, Seq(0.85f, 0.15f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", buckets = 2)
      applyLatest()
      // commit 2: delete 4
      Store.delete(spark, "ivfsync_docs", Seq(4L).toDF("vec_id"), "vec_id", buckets = 2)
      applyLatest()
      val n1 = neighbors()
      assert(n1.contains(10L), "inserted vector not served")
      assert(!n1.contains(4L), "deleted vector still served")
      assert(n1(3L) > 0.9, s"update not superseding: id 3 scored ${n1(3L)} (old vector was orthogonal)")
      // commit 2: re-insert 4 into cluster 1 — a higher sync version must
      // outlive the old tombstone
      Store.upsert(spark, "ivfsync_docs",
        Seq((4L, Seq(0.9f, 0.05f, 0.05f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", buckets = 2)
      applyLatest()
      val n2 = neighbors()
      assert(n2.contains(4L) && n2(4L) > 0.9, "re-inserted vector not served")
      assert(n2.contains(10L) && n2(3L) > 0.9, "earlier syncs disturbed")
    } finally spark.sql("DROP TABLE IF EXISTS ivfsync_docs")
  }

  test("apply cost is O(changelog) jobs: identical job count at 1x and 6x corpus size") {
    def jobsForSync(n: Int, suffix: String): Int = {
      val docs = corpus(n)
      Store.bulkWrite(docs, s"isj_docs_$suffix", "doc_id", buckets = 2, parts = 4,
        validateKeys = true)
      IndexSync.buildExactIndex(spark, docs, s"isj_idx_$suffix", "doc_id", "text")
      try {
        // the SAME 4-key changelog whatever the corpus size
        Store.upsert(spark, s"isj_docs_$suffix",
          Seq((3L, "changed text body three"), (5001L, "a brand new doc body"))
            .toDF("doc_id", "text"), "doc_id", buckets = 2)
        val v1 = Store.versions(spark, s"isj_docs_$suffix")
        val step1 = Store.changes(
          spark, s"isj_docs_$suffix", v1.head, v1.last).localCheckpoint()
        Store.delete(spark, s"isj_docs_$suffix",
          Seq(7L, 8L).toDF("doc_id"), "doc_id", buckets = 2)
        val v2 = Store.versions(spark, s"isj_docs_$suffix")
        val step2 = Store.changes(
          spark, s"isj_docs_$suffix", v2.head, v2.last).localCheckpoint()
        org.apache.spark.SparkEvents.during(spark.sparkContext) {
          IndexSync.syncExactIndex(spark, step1, s"isj_idx_$suffix", "doc_id", "text")
          IndexSync.syncExactIndex(spark, step2, s"isj_idx_$suffix", "doc_id", "text")
        }.jobs
      } finally Seq(s"isj_docs_$suffix", s"isj_idx_$suffix")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    val small = jobsForSync(100, "s")
    val large = jobsForSync(600, "l")
    assert(small > 0, "sync ran no jobs — the listener missed the window")
    assert(small === large,
      s"sync job count scales with the corpus: $small jobs at 1x vs $large at 6x")
  }
}
