package graft.sources

import graft.{MovieLensFixture, SparkSpec}
import graft.etl.MovieLens
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StoreSpec extends SparkSpec {

  private val moviesSchema = StructType(Seq(
    StructField("movieId", IntegerType),
    StructField("title", StringType),
    StructField("release_date", StringType),
    StructField("genres", ArrayType(StringType))))

  test("bulk write enforces the declared mapping and round-trips bucketed") {
    val movies = MovieLens.movies(spark, MovieLensFixture.dir)
    assert(Store.conforms(movies, moviesSchema))
    Store.bulkWrite(movies, "movies_idx", "movieId", Some(moviesSchema), buckets = 4)
    try {
      val back = Store.read(spark, "movies_idx")
      assert(back.count() === 1682L)
      // bucketed point lookup matches (ES _id get analog)
      val t = back.filter(col("movieId") === 1).select("title").head().getString(0)
      assert(t === "Toy Story (1995)")
    } finally spark.sql("DROP TABLE IF EXISTS movies_idx")
  }

  test("validateKeys enforces the keyed-class contract; routed tables skip it by default") {
    import spark.implicits._
    val dup = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    assertThrows[IllegalArgumentException] {
      Store.bulkWrite(dup, "dup_keyed", "k", buckets = 2, validateKeys = true)
    }
    // routed-class default: duplicates are legitimate (k rows per key)
    Store.bulkWrite(dup, "dup_routed", "k", buckets = 2)
    try assert(Store.read(spark, "dup_routed").count() === 3L)
    finally spark.sql("DROP TABLE IF EXISTS dup_routed")
  }

  test("non-conforming frame is rejected before any write") {
    val wrong = MovieLens.movies(spark, MovieLensFixture.dir).withColumn("movieId", col("movieId").cast("long"))
    assertThrows[IllegalArgumentException] {
      Store.bulkWrite(wrong, "movies_bad", "movieId", Some(moviesSchema))
    }
    assert(!spark.catalog.tableExists("movies_bad"))
  }

  test("upsert replaces same-key rows and appends new keys (S7 id semantics)") {
    import spark.implicits._
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Store.bulkWrite(v1, "upsert_t", "k", buckets = 2)
    try {
      val updates = Seq((2L, "B2"), (3L, "c")).toDF("k", "v")
      Store.upsert(spark, "upsert_t", updates, "k", buckets = 2)
      val got = Store.read(spark, "upsert_t")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    } finally spark.sql("DROP TABLE IF EXISTS upsert_t")
  }

  test("driver-local upsert stages with ZERO jobs and serves like the job path (r20)") {
    import spark.implicits._
    // two tables, same base: one upserted with a driver-LOCAL frame (the
    // direct parquet staging path), one with a DISTRIBUTED frame of the
    // same rows (the one-job shuffle write) — read-backs and point
    // lookups must be indistinguishable
    val base = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "dstage_a", "k", buckets = 4)
    Store.bulkWrite(base, "dstage_b", "k", buckets = 4)
    try {
      val rows = Seq((7L, "X7"), (123L, "X123"), (401L, "NEW"), (88L, "X88"))
      def jobs(f: => Unit): Int = org.apache.spark.SparkEvents.during(spark.sparkContext)(f).jobs
      // LOCAL frame: the whole upsert — validation, routing, staged write
      // — must run driver-side, zero Spark jobs
      val jLocal = jobs {
        Store.upsert(spark, "dstage_a", rows.toDF("k", "v"), "k", buckets = 4)
      }
      assert(jLocal === 0,
        s"driver-local upsert ran $jLocal jobs — the direct staging path regressed")
      // DISTRIBUTED frame of the same rows takes the job path
      Store.upsert(spark, "dstage_b",
        rows.toDF("k", "v").repartition(3).localCheckpoint(), "k", buckets = 4)
      val a = Store.read(spark, "dstage_a").orderBy(col("k"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val b = Store.read(spark, "dstage_b").orderBy(col("k"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(a === b, "direct-staged table diverged from the job-staged one")
      assert(a.toMap.apply(123L) === "X123")
      // bucket-pruned point lookup still resolves through the tagged files
      val hit = Store.lookup(spark, "dstage_a", Seq(401L))
        .select(col("v")).head().getString(0)
      assert(hit === "NEW")
    } finally {
      spark.sql("DROP TABLE IF EXISTS dstage_a")
      spark.sql("DROP TABLE IF EXISTS dstage_b")
    }
  }

  /** (partition dir/bucket prefix, rows in file order) for every parquet
    * file [[Store.stageWrite]] left under `dir`.
    */
  private def stagedFiles(dir: java.nio.file.Path): Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
      .map { f =>
        s"${f.getParent.getFileName}/${f.getFileName.toString.take(10)}" ->
          spark.read.parquet(f.toString).collect().map(_.toString).toSeq
      }
      .sortBy(_._1)
  }

  test("a null id stages through the job path: same files as the distributed frame") {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def jobs(f: => Unit): Int = org.apache.spark.SparkEvents.during(spark.sparkContext)(f).jobs
    // one partition, one bucket: every row lands in one file, so the
    // file's row order shows where the null id sorts
    def stage(df: org.apache.spark.sql.DataFrame, idCol: String): (Seq[(String, Seq[String])], Int) = {
      val dir = java.nio.file.Files.createTempDirectory("stage-null-id")
      val n = jobs(Store.stageWrite(spark, df.withColumn(Store.PartCol, lit(0)), idCol,
        1, new org.apache.hadoop.fs.Path(dir.toUri), fs))
      (stagedFiles(dir), n)
    }
    val cases = Seq(
      Seq(Some(-5L), None, Some(3L)).zipWithIndex.toDF("k", "v"),
      Seq(Some("b"), None, Some("a")).zipWithIndex.toDF("k", "v"))
    for (local <- cases) {
      // the same frame without its null row stages driver-side
      assert(stage(local.filter(col("k").isNotNull), "k")._2 === 0)
      val (direct, _) = stage(local, "k")
      val (job, _) = stage(local.localCheckpoint(), "k")
      assert(direct === job, s"null-id staging diverged from the job path for ${local.schema("k")}")
      assert(direct.head._2.head.startsWith("[null,"), "the job path sorts a null id first")
    }
  }

  test("driver-side staging writes the session codec: lz4_raw") {
    import spark.implicits._
    val key = "spark.sql.parquet.compression.codec"
    val prior = spark.conf.getOption(key)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("stage-codec")
    spark.conf.set(key, "lz4_raw")
    try {
      val n = org.apache.spark.SparkEvents.during(spark.sparkContext) {
        Store.stageWrite(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v")
          .withColumn(Store.PartCol, lit(0)), "k", 1, new org.apache.hadoop.fs.Path(dir.toUri), fs)
      }.jobs
      assert(n === 0, "the frame should have staged driver-side")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val files = stagedFiles(dir)
    assert(files.map(_._2) === Seq(Seq("[1,a]", "[2,b]")))
    import scala.jdk.CollectionConverters._
    val file = java.nio.file.Files.walk(dir).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    val codec = try reader.getFooter.getBlocks.get(0).getColumns.get(0).getCodec
      finally reader.close()
    assert(codec === org.apache.parquet.hadoop.metadata.CompressionCodecName.LZ4_RAW)
  }

  test("upsert is incremental: untouched partitions stay byte-identical on disk") {
    import spark.implicits._
    // 1,000 keys across 16 hash partitions; then upsert 1% of them
    val base = (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "upsert_inc", "k", buckets = 4)
    try {
      def files(): Map[String, (Long, Long)] = {
        val ident = spark.sessionState.sqlParser.parseTableIdentifier("upsert_inc")
        val loc = new java.io.File(
          new java.net.URI(spark.sessionState.catalog.getTableMetadata(ident).location.toString))
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(loc).filter(_.getName.endsWith(".parquet"))
          .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
      }
      val before = files()
      val updates = Seq((7L, "V7"), (500L, "V500"), (1001L, "NEW")).toDF("k", "v")
      Store.upsert(spark, "upsert_inc", updates, "k", buckets = 4)
      // correctness of the merge
      val got = Store.read(spark, "upsert_inc")
      assert(got.count() === 1001L)
      assert(got.filter($"k".isin(7L, 500L, 1001L)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
        === Map(7L -> "V7", 500L -> "V500", 1001L -> "NEW"))
      // incrementality: the 3 update keys hash into ≤3 of 16 partitions;
      // every file in the other partitions must be untouched on disk —
      // same path, same size, same mtime (cost scales with the batch, not
      // the table)
      val after = files()
      val touchedParts = Seq(7L, 500L, 1001L)
        .map(k => s"graft_p=${Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32
          .hashLong(k, 42), 16)}").toSet
      val untouchedBefore = before.filterNot { case (p, _) => touchedParts.exists(p.contains) }
      val untouchedAfter = after.filterNot { case (p, _) => touchedParts.exists(p.contains) }
      assert(untouchedBefore.nonEmpty, "fixture degenerate: every partition touched")
      assert(untouchedAfter === untouchedBefore,
        s"untouched partitions were rewritten:\n${(untouchedAfter.toSet diff untouchedBefore.toSet).take(5)}")
    } finally spark.sql("DROP TABLE IF EXISTS upsert_inc")
  }

  test("createTable declares an empty table with the mapping (S6)") {
    Store.createTable(spark, "movies_decl", moviesSchema)
    try {
      val t = Store.read(spark, "movies_decl")
      assert(t.schema === moviesSchema)
      assert(t.count() === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS movies_decl")
  }

  test("delta upserts accumulate live files; compact() collapses them and keeps content") {
    import spark.implicits._
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "upsert_files", "k", buckets = 4)
    try {
      def liveFiles(): Long = Store.fileStats(spark, "upsert_files").map(_.nFiles).sum
      val before = liveFiles()
      // ten micro-batch-sized upserts hitting the SAME key: each appends a
      // delta generation (O(batch) — nothing rewritten), so the LIVE file
      // count grows with the chain; this is exactly the fragmentation the
      // compactor exists to fold (the ES force-merge analog)
      (1 to 10).foreach(i => Store.upsert(spark, "upsert_files",
        Seq((7L, s"v7_$i")).toDF("k", "v"), "k", buckets = 4))
      val fragmented = liveFiles()
      assert(fragmented >= before + 10,
        s"each delta upsert must add at least one live file ($before -> $fragmented)")
      assert(Store.compactionPlan(spark, "upsert_files").nonEmpty)
      val res = Store.compact(spark, "upsert_files")
      assert(res.foldedParts.nonEmpty)
      assert(res.filesAfter < res.filesBefore,
        s"compaction must collapse live files (${res.filesBefore} -> ${res.filesAfter})")
      // the folded partition holds ONE generation with ≤ buckets files
      assert(Store.fileStats(spark, "upsert_files").forall(_.nGens === 1))
      // content is invariant across the fold: latest version wins
      assert(Store.read(spark, "upsert_files").count() === 200L)
      assert(Store.read(spark, "upsert_files").filter($"k" === 7L)
        .head().getString(1) === "v7_10")
      // and the table keeps accepting upserts after the fold
      Store.upsert(spark, "upsert_files", Seq((7L, "v7_post")).toDF("k", "v"), "k", buckets = 4)
      assert(Store.read(spark, "upsert_files").filter($"k" === 7L)
        .head().getString(1) === "v7_post")
    } finally spark.sql("DROP TABLE IF EXISTS upsert_files")
  }

  test("a crash between delta stage and manifest commit leaves the old content visible") {
    import spark.implicits._
    val base = (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "crash_t", "k", buckets = 2)
    try {
      // stage WITHOUT commit = the writer died after writing its data
      // files but before the atomic manifest rename
      val staged = Store.stageDelta(spark, "crash_t",
        Seq((7L, "V7_staged"), (51L, "NEW")).toDF("k", "v"), "k", buckets = 2)
      assert(staged.isDefined)
      // readers resolve the last committed manifest: old content, exactly
      val got = Store.read(spark, "crash_t")
      assert(got.count() === 50L)
      assert(got.filter($"k" === 7L).head().getString(1) === "v7")
      // recovery path: committing the staged generation (BEFORE any later
      // commit — a later commit's vacuum reclaims orphans) applies it
      val (gen, touched) = staged.get
      Store.commitDelta(spark, "crash_t", gen, touched)
      val recovered = Store.read(spark, "crash_t")
      assert(recovered.count() === 51L)
      assert(recovered.filter($"k" === 7L).head().getString(1) === "V7_staged")
      // a second crash whose orphan is ABANDONED: a later writer allocates
      // past it (intent marker), its commit never references the orphan's
      // rows, and vacuum reclaims them
      val orphan = Store.stageDelta(spark, "crash_t",
        Seq((52L, "NEVER")).toDF("k", "v"), "k", buckets = 2)
      assert(orphan.isDefined)
      Store.upsert(spark, "crash_t", Seq((8L, "V8")).toDF("k", "v"), "k", buckets = 2)
      Store.upsert(spark, "crash_t", Seq((9L, "V9")).toDF("k", "v"), "k", buckets = 2)
      val after = Store.read(spark, "crash_t")
      assert(after.count() === 51L) // the orphan's key 52 never appeared
      assert(after.filter($"k" === 8L).head().getString(1) === "V8")
      assert(orphan.get._1 !== Store.readManifest(spark, "crash_t").get
        ._2.valuesIterator.flatten.max) // later gens allocated PAST the orphan
    } finally spark.sql("DROP TABLE IF EXISTS crash_t")
  }

  test("z-ordered compaction: content preserved, rank skipped, box reads prune and stay exact") {
    import spark.implicits._
    // two integer dims spread over a 40x40 grid; planted delta chain first
    val base = (1L to 400L).map(k => (k, (k * 7) % 40, (k * 13) % 40, s"v$k"))
      .toDF("k", "x", "y", "v")
    Store.bulkWrite(base, "zc_t", "k", buckets = 2, parts = 4, validateKeys = true)
    try {
      Store.upsert(spark, "zc_t",
        (1L to 400L by 5L).map(k => (k, (k * 7) % 40, (k * 13) % 40, s"v${k}_b"))
          .toDF("k", "x", "y", "v"), "k", buckets = 2)
      Store.delete(spark, "zc_t", Seq(40L, 80L).toDF("k"), "k", buckets = 2)
      val before = Store.read(spark, "zc_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val res = Store.compact(spark, "zc_t",
        zorder = Some(Store.ZorderSpec(Seq("x", "y"), bits = 6, bucketBits = 4)))
      assert(res.foldedParts.nonEmpty)
      // 1) content byte-for-byte across the re-layout (incl. the deletes)
      val after = Store.read(spark, "zc_t")
      assert(after.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
        === before)
      assert(!before.exists(_._1 == 40L))
      // 2) the z generations are key-disjoint, so the merge rank is GONE
      // from a plain read even though partitions carry many generations
      assert(!after.queryExecution.sparkPlan.toString.contains("Window"),
        "z-compacted read still pays the merge-on-read rank")
      // 3) box read == plain filter, and it admitted fewer generations
      val box = Seq((5L, 14L), (10L, 19L))
      val gotBox = Store.readBox(spark, "zc_t", box).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val expBox = before.filter(t => t._2 >= 5 && t._2 <= 14 && t._3 >= 10 && t._3 <= 19)
      assert(gotBox === expBox)
      val (admitted, total) = Store.boxGenCounts(spark, "zc_t", box)
      assert(admitted < total, s"box admitted all $total generations")
      // 4) a post-compaction upsert leaves its partition on the exact
      // fallback path while the rest keep pruning
      Store.upsert(spark, "zc_t",
        Seq((3L, 7L, 19L, "v3_post")).toDF("k", "x", "y", "v"), "k", buckets = 2)
      val gotBox2 = Store.readBox(spark, "zc_t", box).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val expBox2 = expBox.filterNot(_._1 == 3L) +
        ((3L, 7L, 19L, "v3_post")) // (7, 19) is inside the box
      assert(gotBox2 === expBox2)
      // 5) a NULL dim fails loudly before anything is written
      Store.upsert(spark, "zc_t",
        Seq((401L, Option.empty[Long], Option(1L), "vnull"))
          .toDF("k", "x", "y", "v"), "k", buckets = 2)
      val e = intercept[IllegalArgumentException] {
        Store.compact(spark, "zc_t",
          zorder = Some(Store.ZorderSpec(Seq("x", "y"), bits = 6, bucketBits = 4)))
      }
      assert(e.getMessage.contains("non-null"))
    } finally spark.sql("DROP TABLE IF EXISTS zc_t")
  }

  test("a partial z-compact carries forward the prior sidecar's envelopes") {
    import spark.implicits._
    val base = (1L to 400L).map(k => (k, (k * 7) % 40, (k * 13) % 40, s"v$k"))
      .toDF("k", "x", "y", "v")
    Store.bulkWrite(base, "zp_t", "k", buckets = 2, parts = 4, validateKeys = true)
    try {
      val spec = Store.ZorderSpec(Seq("x", "y"), bits = 6, bucketBits = 4)
      Store.compact(spark, "zp_t", zorder = Some(spec))
      // delta-touch one key: exactly its routing partition goes stale
      Store.upsert(spark, "zp_t",
        Seq((3L, 7L, 19L, "v3b")).toDF("k", "x", "y", "v"), "k", buckets = 2)
      // the touched key's routing partition, computed the way lookup does
      // (z partitions legitimately carry many generations, so the plain
      // compaction plan cannot identify "stale since the z layout")
      val stale = {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
        Pmod(new Murmur3Hash(Seq(Cast(Literal(3L),
            org.apache.spark.sql.types.LongType))), Literal(4))
          .eval(null).asInstanceOf[Int]
      }
      // re-z-compact ONLY the stale partition — the other partitions'
      // envelopes must survive via the sidecar carry-forward
      Store.compact(spark, "zp_t", onlyParts = Some(Seq(stale)), zorder = Some(spec))
      // a box that misses the data entirely prunes EVERY generation: only
      // possible if unfolded partitions kept their envelopes
      val miss = Seq((1000L, 2000L), (1000L, 2000L))
      val (aMiss, tMiss) = Store.boxGenCounts(spark, "zp_t", miss)
      assert(tMiss > 0 && aMiss === 0,
        s"carried envelopes lost: $aMiss/$tMiss generations admitted for an empty box")
      assert(Store.readBox(spark, "zp_t", miss).isEmpty)
      // all partitions are z-clean again → rank-free plain read, content intact
      val after = Store.read(spark, "zp_t")
      assert(!after.queryExecution.sparkPlan.toString.contains("Window"))
      assert(after.count() === 400L)
      assert(after.filter($"k" === 3L).head().getString(3) === "v3b")
    } finally spark.sql("DROP TABLE IF EXISTS zp_t")
  }

  test("an orphan z-layout sidecar (crash before the manifest commit) never affects reads") {
    import spark.implicits._
    val base = (1L to 100L).map(k => (k, k % 10, k % 7, s"v$k")).toDF("k", "x", "y", "v")
    Store.bulkWrite(base, "zorph_t", "k", buckets = 2, parts = 4, validateKeys = true)
    try {
      // forge exactly what a z-compact crashed between sidecar write and
      // manifest commit leaves behind: a well-formed zmap whose
      // generations were never committed
      val ident = spark.sessionState.sqlParser.parseTableIdentifier("zorph_t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(ident).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val txt = "dims:x,y\nbits:6\nbucketBits:2\nplan:x,0,0|y,0,0\n" +
        "env:0:99:0,9;0,6\nenv:1:100:0,9;0,6"
      val out = fs.create(new org.apache.hadoop.fs.Path(loc, "_zmap-1.txt"), true)
      out.write(txt.getBytes("UTF-8")); out.close()
      // plain reads: the per-partition subset check rejects every
      // partition (live gens are not the sidecar's), so nothing changes
      assert(Store.read(spark, "zorph_t").count() === 100L)
      // box reads: every partition takes the exact fallback path
      val got = Store.readBox(spark, "zorph_t", Seq((2L, 5L), (1L, 3L)))
        .collect().map(_.getLong(0)).toSet
      val exp = (1L to 100L).filter(k =>
        k % 10 >= 2 && k % 10 <= 5 && k % 7 >= 1 && k % 7 <= 3).toSet
      assert(got === exp)
    } finally spark.sql("DROP TABLE IF EXISTS zorph_t")
  }

  test("manifest commit is exclusive-create guarded: one racing writer wins, the loser fails loudly") {
    import spark.implicits._
    val base = (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "race_t", "k", buckets = 2)
    try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier("race_t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(ident).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the lost-update interleaving rename alone cannot catch on a POSIX
      // local FS: two writers resolve the SAME base manifest, then both
      // commit the next version — replayed here step by step
      val (v, m) = Store.readManifest(spark, "race_t").get
      Store.writeManifest(fs, loc, v + 1L, m) // writer A wins the claim
      val e = intercept[IllegalStateException] {
        Store.writeManifest(fs, loc, v + 1L, m) // writer B: same base, same target
      }
      assert(e.getMessage.contains("cannot claim manifest version"))
      // the winner's commit is intact and the table still reads
      assert(Store.readManifest(spark, "race_t").get._1 === v + 1L)
      assert(Store.read(spark, "race_t").count() === 20L)
      // a STALE straggler whose target version's lock was already retired
      // (vacuumed): the claim succeeds but the post-lock currency check
      // fails loudly — and releases the claim so the message stays honest
      fs.delete(new org.apache.hadoop.fs.Path(loc, s"_manifest-${v + 1}.lock"), false)
      val e2 = intercept[IllegalStateException] {
        Store.writeManifest(fs, loc, v + 1L, m)
      }
      assert(e2.getMessage.contains("lost-update race"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc, s"_manifest-${v + 1}.lock")))
      assert(Store.readManifest(spark, "race_t").get._1 === v + 1L)
      // a crashed commit (lock created, manifest never renamed) blocks the
      // version loudly instead of silently losing either write
      fs.create(new org.apache.hadoop.fs.Path(loc, s"_manifest-${v + 2}.lock"), false).close()
      val e3 = intercept[IllegalStateException] {
        Store.upsert(spark, "race_t", Seq((21L, "NEW")).toDF("k", "v"), "k", buckets = 2)
      }
      assert(e3.getMessage.contains("cannot claim manifest version"))
      // operator recovery: remove the stale lock, retry — the write lands
      fs.delete(new org.apache.hadoop.fs.Path(loc, s"_manifest-${v + 2}.lock"), false)
      Store.upsert(spark, "race_t", Seq((21L, "NEW")).toDF("k", "v"), "k", buckets = 2)
      assert(Store.read(spark, "race_t").count() === 21L)
    } finally spark.sql("DROP TABLE IF EXISTS race_t")
  }

  test("vacuum retains the last two manifests and reclaims superseded generations") {
    import spark.implicits._
    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "vac_t", "k", buckets = 2)
    try {
      def allParquet(): Int = {
        val ident = spark.sessionState.sqlParser.parseTableIdentifier("vac_t")
        val loc = new java.io.File(new java.net.URI(
          spark.sessionState.catalog.getTableMetadata(ident).location.toString))
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(loc).count(_.getName.endsWith(".parquet"))
      }
      (1 to 6).foreach(i => Store.upsert(spark, "vac_t",
        Seq((7L, s"v7_$i")).toDF("k", "v"), "k", buckets = 2))
      val beforeFold = allParquet()
      Store.compact(spark, "vac_t")
      // the fold supersedes the delta chain; one more commit pushes the
      // pre-fold manifest out of the retention window, so its generations
      // are physically reclaimed
      Store.upsert(spark, "vac_t", Seq((8L, "V8")).toDF("k", "v"), "k", buckets = 2)
      Store.upsert(spark, "vac_t", Seq((9L, "V9")).toDF("k", "v"), "k", buckets = 2)
      Store.compact(spark, "vac_t")
      Store.upsert(spark, "vac_t", Seq((10L, "V10")).toDF("k", "v"), "k", buckets = 2)
      Store.upsert(spark, "vac_t", Seq((11L, "V11")).toDF("k", "v"), "k", buckets = 2)
      assert(allParquet() < beforeFold,
        "superseded delta generations must be vacuumed after retention expires")
      assert(Store.read(spark, "vac_t").count() === 100L)
      assert(Store.read(spark, "vac_t").filter($"k" === 7L)
        .head().getString(1) === "v7_6")
    } finally spark.sql("DROP TABLE IF EXISTS vac_t")
  }

  test("delete tombstones a key logically; compact + retention make it physical") {
    import spark.implicits._
    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "del_t", "k", buckets = 2)
    try {
      Store.delete(spark, "del_t", Seq(7L, 13L).toDF("k"), "k", buckets = 2)
      val after = Store.read(spark, "del_t")
      assert(after.count() === 98L)
      assert(after.filter($"k".isin(7L, 13L)).count() === 0L)
      // deleting an absent key is a harmless no-op tombstone
      Store.delete(spark, "del_t", Seq(999L).toDF("k"), "k", buckets = 2)
      assert(Store.read(spark, "del_t").count() === 98L)
      // a later upsert resurrects the key (newest version wins)
      Store.upsert(spark, "del_t", Seq((7L, "back")).toDF("k", "v"), "k", buckets = 2)
      val res = Store.read(spark, "del_t")
      assert(res.count() === 99L)
      assert(res.filter($"k" === 7L).head().getString(1) === "back")
      // physical erasure: fold the chains, then two more commits push the
      // pre-fold manifest out of retention so its generations (which still
      // hold k=13's bytes) are vacuumed — after that, NO live or retained
      // file contains the deleted key
      Store.compact(spark, "del_t")
      Store.upsert(spark, "del_t", Seq((8L, "x")).toDF("k", "v"), "k", buckets = 2)
      Store.upsert(spark, "del_t", Seq((9L, "y")).toDF("k", "v"), "k", buckets = 2)
      Store.compact(spark, "del_t")
      Store.upsert(spark, "del_t", Seq((10L, "z")).toDF("k", "v"), "k", buckets = 2)
      Store.upsert(spark, "del_t", Seq((11L, "w")).toDF("k", "v"), "k", buckets = 2)
      val ident = spark.sessionState.sqlParser.parseTableIdentifier("del_t")
      val loc = spark.sessionState.catalog.getTableMetadata(ident).location.toString
      val raw = spark.read.parquet(loc) // every file still on disk, no manifest filter
      assert(raw.filter($"k" === 13L).count() === 0L,
        "deleted key still present in a retained data file after fold + retention")
      // 100 base − {7,13 deleted} + 7 resurrected; 8/9/10/11 replaced in place
      assert(Store.read(spark, "del_t").count() === 99L)
    } finally spark.sql("DROP TABLE IF EXISTS del_t")
  }

  test("time travel: retained manifest versions read past table states") {
    import spark.implicits._
    val base = (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "tt_t", "k", buckets = 2)
    try {
      Store.upsert(spark, "tt_t", Seq((7L, "V7"), (51L, "NEW")).toDF("k", "v"), "k",
        buckets = 2)
      assert(Store.versions(spark, "tt_t") === Seq(0L, 1L))
      val past = Store.readVersion(spark, "tt_t", 0L)
      assert(past.count() === 50L)
      assert(past.filter($"k" === 7L).head().getString(1) === "v7")
      val now = Store.readVersion(spark, "tt_t", 1L)
      assert(now.count() === 51L)
      assert(now.filter($"k" === 7L).head().getString(1) === "V7")
      // retention window slides: after another commit, version 0 is gone
      Store.upsert(spark, "tt_t", Seq((8L, "V8")).toDF("k", "v"), "k", buckets = 2)
      assert(Store.versions(spark, "tt_t") === Seq(1L, 2L))
      assertThrows[IllegalArgumentException] {
        Store.readVersion(spark, "tt_t", 0L)
      }
    } finally spark.sql("DROP TABLE IF EXISTS tt_t")
  }

  test("upsert works on a FLAT declared table (no hash-prefix layout): legacy full merge") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    Store.createTable(spark, "flat_t", schema)
    try {
      Store.upsert(spark, "flat_t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
      Store.upsert(spark, "flat_t", Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), "k")
      val got = Store.read(spark, "flat_t")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    } finally spark.sql("DROP TABLE IF EXISTS flat_t")
  }

  test("persistent catalog: a table written by one JVM is catalog-visible to the next") {
    // the real claim needs real process boundaries: fork two JVMs sharing
    // only the Derby metastore dir ([[graft.tools.MetastoreCheck]] — the
    // reader also asserts bucket metadata survives, so lookups still prune)
    val dir = java.nio.file.Files.createTempDirectory("graft-metastore").toString
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // this JVM's --add-opens flags (Spark-on-JDK17 needs them); passed as
    // separate (flag, value) argument pairs by build.sbt, so re-pair them
    val inArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList
    }
    val jvmArgs = inArgs.zipWithIndex.flatMap { case (a, i) =>
      if ((a == "--add-opens" || a == "--add-exports") && i + 1 < inArgs.length)
        Seq(a, inArgs(i + 1))
      else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=")) Seq(a)
      else Nil
    }
    def run(mode: String): Int = {
      import scala.sys.process._
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.MetastoreCheck", mode, dir)
      cmd.!(ProcessLogger(_ => (), _ => ())) // Spark logs are noise here
    }
    assert(run("write") === 0, "writer JVM failed")
    assert(run("read") === 0,
      "fresh JVM did not see the table through the persistent catalog")
  }

  test("point lookup on the bucket key prunes to one bucket (ES _id routing analog)") {
    import spark.implicits._
    val recs = (1 to 200).map(u => (u, u * 7, u / 10.0f))
      .toDF("userId", "movieId", "predicted_rating")
    Store.bulkWrite(recs, "recs_bucketed", "userId", buckets = 16)
    try {
      val one = Store.read(spark, "recs_bucketed").filter(col("userId") === 42)
      val scan = one.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 1 out of 16"),
        s"bucket pruning did not engage:\n$scan")
      assert(one.count() === 1L)
    } finally spark.sql("DROP TABLE IF EXISTS recs_bucketed")
  }

  /** graft_p values a plan's partition filters pin — [[Store.lookup]] and
    * [[Store.changes]] must reference ONLY the keys'/commits' partitions.
    */
  private def pinnedParts(plan: String): Set[Int] =
    """graft_p#\d+ = (\d+)""".r.findAllMatchIn(plan).map(_.group(1).toInt).toSet

  private def partOf(key: Long, parts: Int): Int =
    spark.range(1).select(pmod(hash(lit(key)), lit(parts))).head().getInt(0)

  test("lookup prunes to the key's hash partition and bucket, through a delta chain") {
    import spark.implicits._
    val base = (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "lookup_t", "k", buckets = 4, parts = 16)
    try {
      Store.upsert(spark, "lookup_t", Seq((42L, "V42"), (1001L, "new")).toDF("k", "v"), "k")
      val got = Store.lookup(spark, "lookup_t", Seq(42L, 7L, 123456L))
      val rows = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // upserted key sees the delta, untouched key the base, absent key nothing
      assert(rows === Map(42L -> "V42", 7L -> "v7"))
      val plan = got.queryExecution.executedPlan.toString
      val expect = Set(partOf(42L, 16), partOf(7L, 16), partOf(123456L, 16))
      assert(pinnedParts(plan).nonEmpty && pinnedParts(plan).subsetOf(expect),
        s"lookup scanned partitions beyond the keys': ${pinnedParts(plan)} vs $expect\n$plan")
      val bucketCounts = """SelectedBucketsCount: (\d+) out of 4""".r
        .findAllMatchIn(plan).map(_.group(1).toInt).toSeq
      assert(bucketCounts.nonEmpty && bucketCounts.forall(_ < 4),
        s"bucket pruning did not engage inside the partition dirs:\n$plan")
      // lookup ≡ read + filter (the merge-on-read rank still applies)
      val viaRead = Store.read(spark, "lookup_t")
        .filter(col("k").isin(42L, 7L, 123456L))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows === viaRead)
      // an Int key against the Long id column must hash identically (type widen)
      assert(Store.lookup(spark, "lookup_t", Seq(42)).count() === 1L)
    } finally spark.sql("DROP TABLE IF EXISTS lookup_t")
  }

  test("changes labels insert/update/delete with post-images; scans only touched partitions") {
    import spark.implicits._
    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    Store.bulkWrite(base, "cdc_t", "k", buckets = 4, parts = 16)
    try {
      // commit 1: one update + one insert (single mixed upsert batch)
      Store.upsert(spark, "cdc_t", Seq((5L, "V5"), (1001L, "new")).toDF("k", "v"), "k")
      val v01 = Store.versions(spark, "cdc_t")
      val d1 = Store.changes(spark, "cdc_t", v01.head, v01.last)
      val got1 = d1.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got1 === Set((5L, "update", "V5"), (1001L, "insert", "new")))
      // commit 2: a delete — post-image null, and the diff's scans pin
      // ONLY the deleted key's partition (manifest pruning)
      Store.delete(spark, "cdc_t", Seq(Tuple1(7L)).toDF("k"), "k")
      val v12 = Store.versions(spark, "cdc_t")
      val d2 = Store.changes(spark, "cdc_t", v12.head, v12.last)
      val got2 = d2.collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSet
      assert(got2 === Set((7L, "delete", true)))
      val plan = d2.queryExecution.executedPlan.toString
      assert(pinnedParts(plan) === Set(partOf(7L, 16)),
        s"diff scanned partitions the delete never touched: ${pinnedParts(plan)}\n$plan")
      // a compaction commit rewrites manifests without changing content —
      // the value-based diff must come back empty
      Store.compact(spark, "cdc_t")
      val v23 = Store.versions(spark, "cdc_t")
      assert(Store.changes(spark, "cdc_t", v23.head, v23.last).count() === 0L)
      // retention-window contract: vacuumed versions fail loudly, inverted windows too
      assertThrows[IllegalArgumentException] {
        Store.changes(spark, "cdc_t", 0L, v23.last)
      }
      assertThrows[IllegalArgumentException] {
        Store.changes(spark, "cdc_t", v23.last, v23.head)
      }
    } finally spark.sql("DROP TABLE IF EXISTS cdc_t")
  }

  test("additive schema evolution: widening upsert adds a NULL-backed column; retype/drop fail loudly") {
    import spark.implicits._
    val base = (1L to 40L).map(i => (i, s"text body $i")).toDF("id", "txt")
    Store.bulkWrite(base, "evo_t", "id", buckets = 2, parts = 4, validateKeys = true)
    try {
      val pre = Store.versions(spark, "evo_t").last
      // the widened batch: ids %4==0 gain a long `w` and an updated txt
      Store.upsert(spark, "evo_t",
        base.filter($"id" % 4 === 0)
          .withColumn("txt", concat($"txt", lit(" [w]")))
          .withColumn("w", $"id" * 10L),
        "id", buckets = 2)
      val now = Store.read(spark, "evo_t")
      assert(now.columns.toSeq === Seq("id", "txt", "w"))
      val rows = now.collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(rows(4L) === (("text body 4 [w]", Some(40L))))
      assert(rows(5L) === (("text body 5", None)), "old generation did not read NULL")
      assert(rows.size === 40)
      // time travel to the pre-evolution version serves the OLD shape
      val past = Store.readVersion(spark, "evo_t", pre)
      assert(past.columns.toSeq === Seq("id", "txt"))
      assert(past.count() === 40L)
      assert(past.filter($"txt".endsWith("[w]")).isEmpty)
      // retype rejected before anything moves; dropped column fails the
      // staged select — both leave the table readable and unchanged
      assertThrows[IllegalArgumentException] {
        Store.upsert(spark, "evo_t",
          Seq((1L, "x", "oops")).toDF("id", "txt", "w"), "id", buckets = 2)
      }
      assertThrows[Exception] {
        Store.upsert(spark, "evo_t", Seq(Tuple1(1L)).toDF("id"), "id", buckets = 2)
      }
      assert(Store.read(spark, "evo_t").count() === 40L)
      // a second evolution stacks: another sidecar version, same rules
      Store.upsert(spark, "evo_t",
        Seq((2L, "text body 2", 20L, 0.5)).toDF("id", "txt", "w", "q"),
        "id", buckets = 2)
      assert(Store.read(spark, "evo_t").columns.toSeq === Seq("id", "txt", "w", "q"))
    } finally spark.sql("DROP TABLE IF EXISTS evo_t")
  }

  test("setRetention widens the time-travel window; vacuum prunes exactly beyond it") {
    import spark.implicits._
    val base = (1L to 30L).map(i => (i, s"v0 $i")).toDF("id", "txt")
    Store.bulkWrite(base, "ret_t", "id", buckets = 2, parts = 4, validateKeys = true)
    try {
      assertThrows[IllegalArgumentException](Store.setRetention(spark, "ret_t", 1))
      Store.setRetention(spark, "ret_t", 4)
      (1 to 3).foreach(i => Store.upsert(spark, "ret_t",
        Seq((1L, s"v$i 1")).toDF("id", "txt"), "id", buckets = 2))
      val vs = Store.versions(spark, "ret_t")
      assert(vs.size === 4, s"window should hold 4 versions, got $vs")
      // v−3 (the bulk state) is still readable
      assert(Store.readVersion(spark, "ret_t", vs.head)
        .filter($"id" === 1L).head().getString(1) === "v0 1")
      // one more commit prunes exactly the oldest
      Store.upsert(spark, "ret_t", Seq((1L, "v4 1")).toDF("id", "txt"), "id", buckets = 2)
      val vs2 = Store.versions(spark, "ret_t")
      assert(vs2.size === 4 && !vs2.contains(vs.head))
      assertThrows[IllegalArgumentException](
        Store.readVersion(spark, "ret_t", vs.head))
      assert(Store.read(spark, "ret_t")
        .filter($"id" === 1L).head().getString(1) === "v4 1")
    } finally spark.sql("DROP TABLE IF EXISTS ret_t")
  }

  test("local-frame upsert fast path: table state identical to the distributed path") {
    import spark.implicits._
    // same base, same updates — one upsert from a driver-built
    // LocalRelation (stats + routing run in-process, coalesced write),
    // one from a localCheckpointed frame (the distributed stats job +
    // bucket-aligned shuffle). Everything a reader can observe must
    // match: merged rows, version count, touched-partition manifest.
    val base = (1L to 40L).map(i => (i, s"v0 $i")).toDF("id", "txt")
    val ups = Seq((3L, "u 3"), (41L, "u 41"), (7L, "u 7"))
    def run(table: String, local: Boolean): (Seq[(Long, String)], Int, Seq[Long]) = {
      Store.bulkWrite(base, table, "id", buckets = 2, parts = 4, validateKeys = true)
      val up = if (local) ups.toDF("id", "txt")
        else ups.toDF("id", "txt").localCheckpoint()
      Store.upsert(spark, table, up, "id", buckets = 2)
      val rows = Store.read(spark, table).as[(Long, String)].collect().sorted.toSeq
      (rows, Store.versions(spark, table).size,
        Store.fileStats(spark, table).map(_.part.toLong).sorted)
    }
    try {
      val l = run("lfu_local", local = true)
      val d = run("lfu_dist", local = false)
      assert(l === d, "local-frame upsert diverged from the distributed upsert")
      // and the local write really was the fast path: one file per
      // present bucket in the delta generation, no more
      assert(l._1.count(_._2.startsWith("u ")) === 3)
    } finally Seq("lfu_local", "lfu_dist").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("localized: LocalRelation under the cap, localCheckpoint past it; rows preserved") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"t$i")).toDF("id", "txt")
    val small = Store.localized(df)
    assert(small.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "bounded frame should localize to a LocalRelation")
    assert(small.as[(Long, String)].collect().sorted.toSeq ===
      df.as[(Long, String)].collect().sorted.toSeq)
    val big = Store.localized(df, cap = 10)
    assert(!big.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "over-cap frame must stay distributed (localCheckpoint fallback)")
    assert(big.count() === 50L)
    // byte budget (ADVICE r17): payload-wide rows stay distributed even
    // under the row cap — the cap guards count, this guards width
    val wide = (1L to 100L).map(i => (i, "x" * 10000)).toDF("id", "txt")
    val widened = Store.localized(wide, maxBytes = 64L * 1024)
    assert(!widened.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "over-byte frame must stay distributed (localCheckpoint fallback)")
    assert(widened.count() === 100L)
    // empty local frames no-op inside the store write paths: no new
    // version, no files moved
    val t = "lfu_empty"
    Store.bulkWrite(df, t, "id", buckets = 2, parts = 2, validateKeys = true)
    try {
      val v0 = Store.versions(spark, t)
      Store.upsert(spark, t, df.filter(lit(false)), "id", buckets = 2)
      Store.delete(spark, t, df.filter(lit(false)).select($"id"), "id", buckets = 2)
      assert(Store.versions(spark, t) === v0,
        "empty local upsert/delete must not commit a version")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("localized assumeLarge: over-cap frame skips the probe and computes once (r19)") {
    // the r18 over-cap shape paid a bounded probe collect AND the
    // localCheckpoint re-run; with the caller's cardinality hint the
    // probe disappears — observable as strictly fewer Spark jobs
    val df = spark.range(0L, 100000L, 1L, 8)
      .select(col("id"), (col("id") * 2L).as("v"))
    def jobs(f: => Unit): Int = org.apache.spark.SparkEvents.during(spark.sparkContext)(f).jobs
    val jDefault = jobs {
      assert(Store.localized(df.filter(col("id") >= 0L), cap = 100).count() === 100000L)
    }
    val jHinted = jobs {
      assert(Store.localized(df.filter(col("id") >= 0L), cap = 100,
        assumeLarge = true).count() === 100000L)
    }
    assert(jHinted < jDefault,
      s"assumeLarge did not skip the probe: hinted=$jHinted default=$jDefault")
  }

  test("compactIfNeeded folds only the partitions whose chain crossed the threshold") {
    import spark.implicits._
    val t = "cin_tab"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val parts = 4
    // route keys driver-side with the write path's own expression so the
    // test can aim upserts at ONE partition
    val routed = (1L to 200L).map(i => i -> i).toDF("id", "v")
      .withColumn("__p", pmod(hash(col("id")), lit(parts)))
      .collect().map(r => r.getLong(0) -> r.getInt(2))
    val hotPart = routed.head._2
    val hotKeys = routed.filter(_._2 == hotPart).map(_._1).take(6)
    val coldKey = routed.find(_._2 != hotPart).get._1
    val coldPart = routed.find(_._2 != hotPart).get._2
    Store.bulkWrite((1L to 200L).map(i => (i, i)).toDF("id", "v"), t, "id",
      buckets = 2, parts = parts, validateKeys = true)
    try {
      // one delta in a cold partition (chain 2) and FOUR in the hot one
      // (chain 5): with maxChain = 5 only the hot partition has crossed
      Store.upsert(spark, t, Seq((coldKey, -1L)).toDF("id", "v"), "id", buckets = 2)
      hotKeys.take(4).zipWithIndex.foreach { case (k, i) =>
        Store.upsert(spark, t, Seq((k, -100L - i)).toDF("id", "v"), "id", buckets = 2)
      }
      val expected = Store.read(spark, t).orderBy(col("id")).collect().toSeq
      assert(Store.compactIfNeeded(spark, t, maxChain = 6).isEmpty,
        "nothing crossed a 6-generation threshold — the quiet trigger must no-op")
      val res = Store.compactIfNeeded(spark, t, maxChain = 5)
      assert(res.isDefined, "the hot partition's 5-gen chain must trigger a fold")
      assert(res.get.foldedParts === Seq(hotPart),
        "only the crossed partition folds — cold chains are left alone")
      // the cold partition's 2-gen chain is untouched and still planned
      assert(Store.compactionPlan(spark, t).map(_.part) === Seq(coldPart))
      // content is the invariant; the fold only changes layout
      assert(Store.read(spark, t).orderBy(col("id")).collect().toSeq === expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("type widening evolution: int->long/float->double in place; id and retypes refused") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val t = "widen_tab"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val base = (1L to 40L).map(i => (i, i.toInt, i.toFloat, s"d$i"))
      .toDF("id", "n", "w", "txt")
    Store.bulkWrite(base, t, "id", buckets = 2, parts = 4, validateKeys = true)
    try {
      val v0 = Store.versions(spark, t).last
      // widening is catalog metadata only — no data file may move
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def dataFiles(): Map[String, Long] = {
        val out = scala.collection.mutable.Map.empty[String, Long]
        val it = fs.listFiles(loc, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet"))
            out(f.getPath.toString) = f.getLen
        }
        out.toMap
      }
      val before = dataFiles()
      Store.upsert(spark, t,
        Seq((7L, 3000000000L, 2.5d, "d7w")).toDF("id", "n", "w", "txt"),
        "id", buckets = 2)
      val sch = spark.table(t).schema
      assert(sch("n").dataType === LongType, "int column must widen to long")
      assert(sch("w").dataType === DoubleType, "float column must widen to double")
      val after = dataFiles()
      assert(before.forall { case (p, len) => after.get(p).contains(len) },
        "widening rewrote or removed a pre-widening data file")
      // old generations decode widened; the delta's wide value round-trips
      val rows = Store.read(spark, t).orderBy(col("id")).collect()
      assert(rows(0).getLong(1) === 1L && rows(0).getDouble(2) === 1.0d)
      assert(rows(6).getLong(1) === 3000000000L && rows(6).getString(3) === "d7w")
      // time travel BEFORE the widening: widened type, original values
      val tv = Store.readVersion(spark, t, v0)
      assert(tv.schema("n").dataType === LongType)
      assert(tv.filter(col("id") === 7L).head().getAs[Long]("n") === 7L)
      // a NARROWER batch (the pre-widening replay) is accepted and upcasts
      Store.upsert(spark, t,
        Seq((9L, 99, 9.5f, "d9r")).toDF("id", "n", "w", "txt"), "id", buckets = 2)
      val r9 = Store.read(spark, t).filter(col("id") === 9L).head()
      assert(r9.getAs[Long]("n") === 99L && r9.getAs[Double]("w") === 9.5f.toDouble)
      // a true retype stays loud
      val retype = intercept[IllegalArgumentException] {
        Store.upsert(spark, t,
          Seq((3L, "oops", 1.0d, "x")).toDF("id", "n", "w", "txt"), "id", buckets = 2)
      }
      assert(retype.getMessage.contains("type change rejected"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    // the id column never widens in place (routing hashes the key at its
    // type) — a LONG-keyed batch against an INT-keyed table is refused
    val t2 = "widen_id_tab"
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    Store.bulkWrite(Seq((1, "a"), (2, "b")).toDF("id", "txt"), t2, "id",
      buckets = 2, parts = 2, validateKeys = true)
    try {
      val e = intercept[IllegalArgumentException] {
        Store.upsert(spark, t2, Seq((1L, "c")).toDF("id", "txt"), "id", buckets = 2)
      }
      assert(e.getMessage.contains("widen the id column"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t2")
  }

  test("widening matrix (r18): byte/short/int promote to long and double in place") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = "widen_matrix_tab"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val base = (1L to 20L).map(i => (i, i.toByte, i.toShort, i.toInt))
      .toDF("id", "b", "s", "n")
    Store.bulkWrite(base, t, "id", buckets = 2, parts = 4, validateKeys = true)
    try {
      // one upsert carrying every promotion at once: byte->int,
      // short->long, int->double — each an INT32-physical page the
      // vectorized reader decodes at the wider type with zero rewrites
      Store.upsert(spark, t,
        Seq((3L, 300, 40000000000L, 2.5d)).toDF("id", "b", "s", "n"),
        "id", buckets = 2)
      val sch = spark.table(t).schema
      assert(sch("b").dataType === IntegerType)
      assert(sch("s").dataType === LongType)
      assert(sch("n").dataType === DoubleType)
      val rows = Store.read(spark, t).orderBy(col("id")).collect()
      // pre-widening generations decode widened with unchanged values
      assert(rows(0).getInt(1) === 1 && rows(0).getLong(2) === 1L &&
        rows(0).getDouble(3) === 1.0d)
      assert(rows(2).getInt(1) === 300 && rows(2).getLong(2) === 40000000000L &&
        rows(2).getDouble(3) === 2.5d)
      // long->double stays refused: past 2^53 it silently corrupts
      val t2 = "widen_l2d_tab"
      spark.sql(s"DROP TABLE IF EXISTS $t2")
      Store.bulkWrite(Seq((1L, 9L)).toDF("id", "v"), t2, "id",
        buckets = 2, parts = 2, validateKeys = true)
      try {
        val e = intercept[IllegalArgumentException] {
          Store.upsert(spark, t2, Seq((1L, 1.5d)).toDF("id", "v"), "id", buckets = 2)
        }
        assert(e.getMessage.contains("type change rejected"))
      } finally spark.sql(s"DROP TABLE IF EXISTS $t2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("addColumnWithDefault: old rows read the default, a batch missing the column fills from it") {
    import spark.implicits._
    val t = "adddef_tab"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Store.bulkWrite((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), t, "id",
      buckets = 2, parts = 4, validateKeys = true)
    try {
      // keep the pre-ALTER manifest readable across the two upserts below
      Store.setRetention(spark, t, 4)
      val v0 = Store.versions(spark, t).last
      Store.addColumnWithDefault(spark, t, "tier", "INT", "7")
      // every pre-ALTER row serves the default at scan time (no rewrite)
      assert(Store.read(spark, t).filter(col("tier") =!= 7).count() === 0L)
      // producers lag the schema: a batch MISSING the defaulted column
      // fills from it instead of failing the whole-row contract
      Store.upsert(spark, t, Seq((11L, "new")).toDF("id", "v"), "id", buckets = 2)
      assert(Store.read(spark, t).filter(col("id") === 11L)
        .head().getAs[Int]("tier") === 7)
      // and a batch CARRYING it stores its own value
      Store.upsert(spark, t, Seq((11L, "new2", 9)).toDF("id", "v", "tier"),
        "id", buckets = 2)
      assert(Store.read(spark, t).filter(col("id") === 11L)
        .head().getAs[Int]("tier") === 9)
      // a batch missing a column WITHOUT a default still fails loudly
      intercept[Exception] {
        Store.upsert(spark, t, Seq((12L, 5)).toDF("id", "tier"), "id", buckets = 2)
      }
      // time travel BEFORE the ALTER serves the pre-evolution shape
      assert(!Store.readVersion(spark, t, v0).columns.contains("tier"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("vacuum deregisters dead catalog partitions: catalog == filesystem") {
    import spark.implicits._
    val t = "vac_dereg_tab"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Store.bulkWrite((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), t, "id",
      buckets = 2, parts = 4, validateKeys = true)
    try {
      // six delta commits then a fold then one more delta: several
      // generations vacuum along the way — the metastore must not keep
      // one dead entry per (partition, generation) ever committed (a
      // long-running stream would leak one per touched partition per
      // trigger, forever)
      (1 to 6).foreach(i =>
        Store.upsert(spark, t, Seq((i.toLong, s"u$i")).toDF("id", "v"), "id", buckets = 2))
      Store.compact(spark, t)
      Store.upsert(spark, t, Seq((1L, "z")).toDF("id", "v"), "id", buckets = 2)
      val hms = spark.sql(s"SHOW PARTITIONS $t").collect()
        .map(_.getString(0)).toSet
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val onDisk = fs.listStatus(loc).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("graft_p=")).flatMap { pd =>
          fs.listStatus(pd.getPath).filter(_.isDirectory)
            .filter(_.getPath.getName.startsWith("graft_g="))
            .map(gd => s"${pd.getPath.getName}/${gd.getPath.getName}")
        }.toSet
      assert(hms === onDisk,
        s"catalog partitions drifted from the filesystem: catalog-only " +
          s"${hms -- onDisk}, disk-only ${onDisk -- hms}")
      // and reads still serve the merged truth over the deregistered state
      val r1 = Store.read(spark, t).filter(col("id") === 1L).head().getString(1)
      assert(r1 === "z")
      assert(Store.read(spark, t).count() === 40L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("staged generations serve Spark bucket-pruned scans: the file tag IS the hash bucket") {
    import spark.implicits._
    // the staged write names files itself (task index == bucket id,
    // r18); if the `_NNNNN` tag ever disagreed with the bucket hash, a
    // bucket-PRUNED equality scan would silently miss delta rows while
    // every manifest-routed read stayed green — so pin the pruned scan
    // finding the key in BOTH generations (gen 0 from the bucketed
    // CTAS, gen 1 from the staged delta)
    val t = "stage_bucket_tab"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Store.bulkWrite((1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), t, "id",
      buckets = 4, parts = 4, validateKeys = true)
    try {
      Store.upsert(spark, t, Seq((7L, "V7")).toDF("id", "v"), "id", buckets = 4)
      val df = spark.table(t).filter(col("id") === 7L)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
        s"equality scan did not engage bucket pruning — the pin is vacuous:\n$plan")
      // raw table rows (no merge-on-read): id 7 must surface from BOTH
      // generations through the PRUNED scan
      assert(df.count() === 2L,
        "bucket-pruned scan missed a staged generation's row — the " +
          "staged file's bucket tag disagrees with the bucket hash")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("manifest CAS contract: non-atomic filesystems refuse loudly; conditional-put schemes opt in") {
    // NonAtomicTestFs simulates an S3-class store: RawLocalFileSystem's
    // create(p, overwrite = false) decomposes into exists-then-create —
    // exactly the non-atomic shape whose lost-update window the commit
    // contract must refuse (VERDICT r17 next #4)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.nonatomic.impl", classOf[NonAtomicTestFs].getName)
    conf.setBoolean("fs.nonatomic.impl.disable.cache", true)
    val dir = java.nio.file.Files.createTempDirectory("cas_contract").toString
    val p = new org.apache.hadoop.fs.Path(s"nonatomic://$dir/_manifest-0.lock")
    val fs = p.getFileSystem(conf)
    // contract half 1: an unregistered scheme is REFUSED with guidance,
    // and the refusal leaves nothing behind
    val e = intercept[IllegalArgumentException](Store.exclusiveCreate(fs, p))
    assert(e.getMessage.contains("atomic create-if-absent"))
    assert(e.getMessage.contains("registerAtomicCreateScheme"))
    assert(!fs.exists(p), "refusal must not have created the lock")
    // contract half 2: a deployment that KNOWS its connector does a real
    // conditional put opts the scheme in; the claim then behaves as the
    // CAS — first writer wins, the loser fails loudly
    graft.sources.Store.registerAtomicCreateScheme("nonatomic")
    try {
      fs.mkdirs(p.getParent)
      Store.exclusiveCreate(fs, p)
      assert(fs.exists(p), "registered scheme's claim must create the lock")
      intercept[java.io.IOException](Store.exclusiveCreate(fs, p))
    } finally Store.deregisterAtomicCreateScheme("nonatomic")
    // and with the opt-in forgotten, the refusal is back (no sticky state)
    intercept[IllegalArgumentException](Store.exclusiveCreate(fs, p))
  }

  test("manifest meta rides commits atomically; meta-only commit stages ZERO generation files (r19)") {
    import spark.implicits._
    val name = "meta_tbl"
    def genDirs(): Seq[String] = {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(ident).location.toString))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      java.nio.file.Files.walk(loc).forEach { p =>
        if (java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("graft_g=")) out += loc.relativize(p).toString
      }
      out.sorted.toSeq
    }
    Store.bulkWrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), name, "k",
      buckets = 2, meta = Map("sketch.last_batch" -> "0", "sketch.params" -> "kll;k=200"))
    try {
      assert(Store.manifestMeta(spark, name) ===
        Map("sketch.last_batch" -> "0", "sketch.params" -> "kll;k=200"))
      // a delta commit carries caller meta in the SAME manifest rename
      Store.upsert(spark, name, Seq((3L, "c")).toDF("k", "v"), "k", buckets = 2,
        metaUpdates = Map("sketch.last_batch" -> "1"))
      assert(Store.manifestMeta(spark, name)("sketch.last_batch") === "1")
      assert(Store.manifestMeta(spark, name)("sketch.params") === "kll;k=200",
        "unrelated meta keys must carry forward through a commit")
      val (v1, m1) = Store.readManifest(spark, name).get
      val g1 = genDirs()
      // metadata-only commit: new version, same partition map, NO new
      // generation directories — the empty-trigger watermark shape
      Store.commitMetaOnly(spark, name, Map("sketch.last_batch" -> "2"))
      val (v2, m2) = Store.readManifest(spark, name).get
      assert(v2 === v1 + 1L && m2 === m1)
      assert(genDirs() === g1, "a meta-only commit must stage zero generations")
      assert(Store.manifestMeta(spark, name)("sketch.last_batch") === "2")
      // an EMPTY upsert with meta takes the meta-only path too
      Store.upsert(spark, name, Seq.empty[(Long, String)].toDF("k", "v"), "k",
        buckets = 2, metaUpdates = Map("sketch.last_batch" -> "3"))
      assert(genDirs() === g1, "an empty upsert must stage zero generations")
      assert(Store.manifestMeta(spark, name)("sketch.last_batch") === "3")
      // maintenance commits (compaction) preserve meta untouched
      Store.upsert(spark, name, Seq((1L, "a2")).toDF("k", "v"), "k", buckets = 2)
      Store.compact(spark, name)
      assert(Store.manifestMeta(spark, name) ===
        Map("sketch.last_batch" -> "3", "sketch.params" -> "kll;k=200"),
        "compaction must carry meta forward")
      assert(Store.read(spark, name).count() === 3L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("commit group: deferred commits collapse per table, reads flush first (r19)") {
    import spark.implicits._
    val name = "grp_tbl"
    Store.bulkWrite((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), name, "k",
      buckets = 2)
    try {
      // manifest version straight off the FS — readManifest is a READ and
      // would itself flush the group, which is exactly what the mid-group
      // assertions must avoid
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(ident).location.toString))
      def fsVersion(): Long = {
        val re = """_manifest-(\d+)\.txt""".r
        new java.io.File(loc.toString).list()
          .collect { case re(n) => n.toLong }.max
      }
      val v0 = fsVersion()
      Store.commitGroup(spark) {
        // two same-table upserts: both stage, neither commits yet
        Store.upsert(spark, name, Seq((11L, "a")).toDF("k", "v"), "k", buckets = 2)
        Store.upsert(spark, name, Seq((12L, "b")).toDF("k", "v"), "k", buckets = 2)
        assert(fsVersion() === v0,
          "deferred commits must not move the manifest mid-group")
        // read-your-writes: a read inside the group flushes the pending
        // commits first and serves both rows
        assert(Store.read(spark, name).count() === 12L,
          "read inside the group must flush pending commits first")
        assert(fsVersion() === v0 + 1L,
          s"two same-table deferred commits must collapse to ONE manifest version")
        // a further deferred commit stays pending until group end
        Store.upsert(spark, name, Seq((13L, "c")).toDF("k", "v"), "k", buckets = 2)
        assert(fsVersion() === v0 + 1L,
          "a deferred commit must not move the manifest mid-group")
        ()
      }
      // group end flushed the remainder
      assert(fsVersion() === v0 + 2L)
      assert(Store.read(spark, name).count() === 13L)
      // nesting refused; abandoned groups leave no pending state behind
      intercept[IllegalArgumentException](
        Store.commitGroup(spark)(Store.commitGroup(spark)(())))
      assert(Store.read(spark, name).count() === 13L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("optimistic commits: disjoint writers rebase, overlapping writers refuse loudly (r19)") {
    import spark.implicits._
    val name = "occ_tbl"
    // parts = 4: key routing is pmod(hash(k), 4); pick keys per partition
    Store.bulkWrite((1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), name, "k",
      buckets = 2, parts = 4)
    try {
      val byPart = (1L to 200L).groupBy(k => Store.partitionOf(spark, name, k))
      val pickA = byPart.filterKeys(_ < 2).values.flatten.toSeq.sorted.take(10)
      val pickB = byPart.filterKeys(_ >= 2).values.flatten.toSeq.sorted.take(10)
      assert(pickA.nonEmpty && pickB.nonEmpty, "need keys in both partition halves")
      // DISJOINT interleave, deterministically: B stages first, A commits
      // a delta to OTHER partitions, then B's commit must REBASE (its
      // base manifest went stale) and both land
      val stagedB = Store.stageDelta(spark, name,
        pickB.map(k => (k, s"B$k")).toDF("k", "v"), "k", buckets = 2)
      Store.upsert(spark, name, pickA.map(k => (k, s"A$k")).toDF("k", "v"), "k",
        buckets = 2)
      val (genB, touchedB) = stagedB.get
      Store.commitDelta(spark, name, genB, touchedB) // stale base; disjoint → rebase
      val got = Store.read(spark, name)
        .filter(col("k").isin((pickA ++ pickB).map(java.lang.Long.valueOf): _*))
        .select(col("k"), col("v")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      pickA.foreach(k => assert(got(k) === s"A$k", s"A's write to $k lost"))
      pickB.foreach(k => assert(got(k) === s"B$k", s"B's rebased write to $k lost"))
      // OVERLAPPING interleave: C stages a delta to A's partitions, D
      // commits to the same partitions first → C's commit must refuse
      val stagedC = Store.stageDelta(spark, name,
        pickA.map(k => (k, s"C$k")).toDF("k", "v"), "k", buckets = 2)
      Store.upsert(spark, name, pickA.map(k => (k, s"D$k")).toDF("k", "v"), "k",
        buckets = 2)
      val (genC, touchedC) = stagedC.get
      val e = intercept[IllegalStateException](
        Store.commitDelta(spark, name, genC, touchedC))
      assert(e.getMessage.contains("overlapping partitions"))
      // the refused write left no trace; D's committed values serve
      pickA.foreach { k =>
        val v = Store.read(spark, name).filter(col("k") === k).head().getString(1)
        assert(v === s"D$k", s"refused write leaked into $k")
      }
      // and genuinely CONCURRENT disjoint threads both land
      val t1 = new Thread(() => Store.upsert(spark, name,
        pickA.map(k => (k, s"T1$k")).toDF("k", "v"), "k", buckets = 2))
      val t2 = new Thread(() => Store.upsert(spark, name,
        pickB.map(k => (k, s"T2$k")).toDF("k", "v"), "k", buckets = 2))
      t1.start(); t2.start(); t1.join(); t2.join()
      val got2 = Store.read(spark, name)
        .filter(col("k").isin((pickA ++ pickB).map(java.lang.Long.valueOf): _*))
        .select(col("k"), col("v")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      pickA.foreach(k => assert(got2(k) === s"T1$k"))
      pickB.foreach(k => assert(got2(k) === s"T2$k"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("refresh gating is per-session-object: a clone gates independently (ADVICE r18)") {
    import spark.implicits._
    val name = "refresh_session_tbl"
    Store.bulkWrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), name, "k", buckets = 2)
    try {
      // a first read through the writer session records ITS stamp
      assert(Store.read(spark, name).count() === 2L)
      assert(Store.refreshRecorded(spark, name),
        "writer session must hold a refresh record after its first read")
      // a CLONED session (own relation caches — the stream-session shape)
      // must NOT inherit the writer's record: identityHashCode keying could
      // collide two sessions into one entry; object keying cannot
      val clone = spark.newSession()
      assert(!Store.refreshRecorded(clone, name),
        "a fresh clone must start with no refresh record for the table")
      // first read through the clone refreshes AND records for the clone only
      assert(Store.read(clone, name).count() === 2L)
      assert(Store.refreshRecorded(clone, name))
      // an upsert through the writer session moves the manifest and
      // re-records the WRITER's stamp; the clone's record goes stale but
      // stays its own — its next read must notice the moved stamp (count
      // sees the new row), not skip on someone else's refresh
      Store.upsert(spark, name, Seq((3L, "c")).toDF("k", "v"), "k")
      assert(Store.read(clone, name).count() === 3L,
        "clone must re-refresh on its own stale stamp after another session's commit")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}

/** An S3-shaped filesystem for the CAS contract test: a local FS under a
  * scheme the commit contract's capability table does not know, whose
  * exclusive create is the non-atomic exists-then-create decomposition.
  */
class NonAtomicTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "nonatomic"
  override def getUri: java.net.URI = java.net.URI.create("nonatomic:///")
}
