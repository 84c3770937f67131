package graft.streaming

import graft.SparkSpec
import graft.ops.Dedup
import graft.sources.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r16: the four per-trigger index reads in the streaming sinks are
  * PARTITION-PRUNED ([[graft.sources.Store.probe]]) — the scale claim
  * made executable, BandIndexSpec-style: a probe trigger's BYTES READ
  * are invariant as the index grows in partitions the probe's keys do
  * not route to. Each pin replays a byte-identical probe file through
  * the sink before and after growth, so every other input the trigger
  * reads (source file, checkpointed batch blocks) is identical by
  * construction and the delta isolates the index scan.
  *
  * The probe batches are all-duplicate replays (their keys are already
  * indexed, their ids — where the sink labels ids — already labeled),
  * so the triggers write NOTHING to the index tables ([[Store.upsert]]
  * stages nothing for an empty batch) and the probed partitions hold
  * byte-identical files across the two measurements.
  */
class StreamIndexPruneSpec extends SparkSpec {
  import spark.implicits._

  private val Parts = 32

  // ——— shared measurement rig (the BandIndexSpec listener pattern) ———

  private val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
  private val listener = new org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val tm = sc.stageInfo.taskMetrics
      if (tm != null) bytesRead.addAndGet(tm.inputMetrics.bytesRead)
      ()
    }
  }

  private def quiesce(): Long = {
    var prev = bytesRead.get(); var stable = 0; var polls = 0
    while (stable < 3 && polls < 100) {
      Thread.sleep(100)
      val cur = bytesRead.get()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      polls += 1
    }
    prev
  }

  private def measured(body: => Unit): Long = {
    quiesce()
    val before = bytesRead.get()
    body
    quiesce() - before
  }

  private def withListener(body: => Unit): Unit = {
    spark.sparkContext.addSparkListener(listener)
    try body finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Write `df` once as a single parquet file into a staging dir and
    * return the file — the byte-identical-replay trick: COPYING that
    * file into the source dir twice (distinct names) gives two triggers
    * whose batches, and therefore whose every non-index input, match to
    * the byte.
    */
  private def stageFile(df: DataFrame, tag: String): java.nio.file.Path = {
    val stage = java.nio.file.Files.createTempDirectory(s"$tag-stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val found = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst()
    assert(found.isPresent, s"no parquet file staged under $stage")
    found.get()
  }

  private def copyIn(staged: java.nio.file.Path, srcDir: String, name: String): Unit = {
    java.nio.file.Files.copy(staged,
      java.nio.file.Paths.get(srcDir, name),
      java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    ()
  }

  /** Routing partitions of a key column under the Store layout (the
    * write path's own expression — pmod(murmur3, parts)). */
  private def keyParts(keys: DataFrame, keyCol: String): Set[Int] =
    keys.select(pmod(hash(col(keyCol)), lit(Parts)).as("__p"))
      .distinct().collect().map(_.getInt(0)).toSet

  // ——— helper-level pin: Store.probe itself ———

  test("Store.probe bytes read are invariant as the table grows in unprobed partitions") {
    val table = "probe_inv_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def rows(offset: Int, n: Int): DataFrame =
      (0 until n).map(i => (s"key-${offset + i}", (offset + i).toLong))
        .toDF("fingerprint", "keeper")
    val seed = rows(0, 200)
    Store.bulkWrite(seed, table, "fingerprint", buckets = 4, parts = Parts)
    val probeKeys = Seq("key-3", "key-17").toDF("fingerprint")
    val pp = keyParts(probeKeys, "fingerprint")
    withListener {
      def probeBytes(): (Set[(String, Long)], Long) = {
        var got: Set[(String, Long)] = Set.empty
        val bytes = measured {
          got = Store.probe(spark, table, probeKeys, "fingerprint")
            .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        }
        (got, bytes)
      }
      val (got1, bytes1) = probeBytes()
      assert(got1 === Set(("key-3", 3L), ("key-17", 17L)))
      assert(bytes1 > 0L, "the probe read no bytes — the pin is vacuous")
      // grow ~8× strictly in partitions the probe keys do not route to
      (1 to 8).foreach { g =>
        val fill = rows(1000 * g, 400)
        val clean = fill.join(
          fill.filter(pmod(hash(col("fingerprint")), lit(Parts)).isin(pp.toSeq: _*))
            .select(col("fingerprint")),
          Seq("fingerprint"), "left_anti")
          .localCheckpoint()
        Store.upsert(spark, table, clean, "fingerprint", buckets = 4)
      }
      val (got2, bytes2) = probeBytes()
      assert(got2 === got1)
      assert(bytes2 === bytes1,
        s"probe scan scales with the table: $bytes1 bytes before growth, $bytes2 after")
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  // ——— per-sink pins ———

  private def seedDocs(n: Int, words: Int, tag: String): DataFrame =
    (0 until n).map { i =>
      val body = (0 until words).map(w => s"$tag${i}w$w").mkString(" ")
      (i.toLong, body)
    }.toDF("doc_id", "text")

  /** Growth docs whose EVERY key avoids the probe partitions; ids offset
    * far above the seed/probe range. `keyOf` maps a doc frame to its
    * (doc_id, key) rows under the sink's own key function.
    */
  private def cleanGrowth(
      offset: Long, n: Int, words: Int, tag: String,
      avoid: Set[Int], keyOf: DataFrame => DataFrame): DataFrame = {
    val cand = (0 until n).map { i =>
      val body = (0 until words).map(w => s"$tag${offset + i}g$w").mkString(" ")
      (offset + i, body)
    }.toDF("doc_id", "text")
    val dirty = keyOf(cand)
      .filter(pmod(hash(col("key")), lit(Parts)).isin(avoid.toSeq: _*))
      .select(col("doc_id")).distinct()
    cand.join(dirty, Seq("doc_id"), "left_anti")
  }

  private def fpOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.exactFingerprint(col("text")).as("key"))

  test("exactDedupIncremental: probe trigger bytes invariant under 8x index growth") {
    val table = "xd_prune_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val srcDir = java.nio.file.Files.createTempDirectory("xdprune-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("xdprune-ckpt").toString
    val labelsOut = java.nio.file.Files.createTempDirectory("xdprune-out").toString + "/labels"
    val seed = seedDocs(200, words = 6, tag = "xs")
    // probe docs: NEW ids, texts copied from seed docs 3 and 7 — pure
    // dup hits, so the trigger upserts nothing and the probed index
    // partitions stay byte-identical across the two measurements
    val probe = seed.filter(col("doc_id").isin(3L, 7L))
      .select((col("doc_id") + 900L).as("doc_id"), col("text"))
    val pp = keyParts(fpOf(probe), "key")
    seed.coalesce(1).write.mode("append").parquet(srcDir)
    val staged = stageFile(probe, "xdprune")
    val q = EventStream.exactDedupIncremental(
      spark.readStream.schema(seed.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      "doc_id", "text", table, labelsOut, checkpointLocation = Some(ckpt))
    try {
      withListener {
        q.processAllAvailable() // seed indexed
        val bytes1 = measured {
          copyIn(staged, srcDir, "probe1.parquet")
          q.processAllAvailable()
        }
        assert(bytes1 > 0L)
        (1 to 4).foreach { g =>
          cleanGrowth(10000L * g, 400, words = 6, tag = "xg", avoid = pp, keyOf = fpOf)
            .coalesce(1).write.mode("append").parquet(srcDir)
          q.processAllAvailable()
        }
        val bytes2 = measured {
          copyIn(staged, srcDir, "probe2.parquet")
          q.processAllAvailable()
        }
        assert(bytes2 === bytes1,
          s"probe trigger scales with the index: $bytes1 bytes before growth, $bytes2 after")
      }
      // both probe triggers labeled the replay as dups of the seed keepers
      val labels = spark.read.parquet(labelsOut)
        .filter(col("doc_id").isin(903L, 907L))
        .select(col("doc_id"), col("dup_of"), col("keep"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(labels === Set((903L, 3L, false), (907L, 7L, false)))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("noveltyIncremental: probe trigger bytes invariant under 8x shingle-index growth") {
    val table = "nv_prune_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val srcDir = java.nio.file.Files.createTempDirectory("nvprune-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("nvprune-ckpt").toString
    val scoresOut = java.nio.file.Files.createTempDirectory("nvprune-out").toString + "/scores"
    def shOf(docs: DataFrame): DataFrame =
      Dedup.wordShingles(docs, "doc_id", "text", w = 3)
        .select(col("doc_id"), col("shingle").as("key"))
    val seed = seedDocs(120, words = 6, tag = "ns")
    val probe = seed.filter(col("doc_id").isin(5L, 11L))
      .select((col("doc_id") + 900L).as("doc_id"), col("text"))
    val pp = keyParts(shOf(probe), "key")
    seed.coalesce(1).write.mode("append").parquet(srcDir)
    val staged = stageFile(probe, "nvprune")
    val q = EventStream.noveltyIncremental(
      spark.readStream.schema(seed.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      "doc_id", "text", table, scoresOut, checkpointLocation = Some(ckpt))
    try {
      withListener {
        q.processAllAvailable()
        val bytes1 = measured {
          copyIn(staged, srcDir, "probe1.parquet")
          q.processAllAvailable()
        }
        assert(bytes1 > 0L)
        (1 to 4).foreach { g =>
          cleanGrowth(10000L * g, 250, words = 6, tag = "ng", avoid = pp, keyOf = shOf)
            .coalesce(1).write.mode("append").parquet(srcDir)
          q.processAllAvailable()
        }
        val bytes2 = measured {
          copyIn(staged, srcDir, "probe2.parquet")
          q.processAllAvailable()
        }
        assert(bytes2 === bytes1,
          s"probe trigger scales with the index: $bytes1 bytes before growth, $bytes2 after")
      }
      // replayed shingles are all stale — novelty 0 from both triggers
      val scores = spark.read.parquet(scoresOut).filter(col("doc_id").isin(905L, 911L))
        .select(col("doc_id"), col("n_novel")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(scores === Set((905L, 0L), (911L, 0L)))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("spanDedupIncremental: probe trigger bytes invariant under 8x digest-index growth") {
    val table = "sp_prune_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val srcDir = java.nio.file.Files.createTempDirectory("spprune-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("spprune-ckpt").toString
    val cleanOut = java.nio.file.Files.createTempDirectory("spprune-out").toString + "/clean"
    def digOf(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"),
        explode(graft.functions.WordChunksExpr.word_chunks(col("text"), lit(5)))
          .as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("key"))
    val seed = seedDocs(120, words = 10, tag = "ss")
    val probe = seed.filter(col("doc_id").isin(2L, 9L))
      .select((col("doc_id") + 900L).as("doc_id"), col("text"))
    val pp = keyParts(digOf(probe), "key")
    seed.coalesce(1).write.mode("append").parquet(srcDir)
    val staged = stageFile(probe, "spprune")
    val q = EventStream.spanDedupIncremental(
      spark.readStream.schema(seed.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      "doc_id", "text", table, cleanOut, w = 5, checkpointLocation = Some(ckpt))
    try {
      withListener {
        q.processAllAvailable()
        val bytes1 = measured {
          copyIn(staged, srcDir, "probe1.parquet")
          q.processAllAvailable()
        }
        assert(bytes1 > 0L)
        (1 to 4).foreach { g =>
          cleanGrowth(10000L * g, 250, words = 10, tag = "sg", avoid = pp, keyOf = digOf)
            .coalesce(1).write.mode("append").parquet(srcDir)
          q.processAllAvailable()
        }
        val bytes2 = measured {
          copyIn(staged, srcDir, "probe2.parquet")
          q.processAllAvailable()
        }
        assert(bytes2 === bytes1,
          s"probe trigger scales with the index: $bytes1 bytes before growth, $bytes2 after")
      }
      // every replayed chunk is owned by its seed twin — nothing survives
      val rebuilt = spark.read.parquet(cleanOut).filter(col("doc_id").isin(902L, 909L))
        .select(col("doc_id"), col("n_kept")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rebuilt === Set((902L, 0L), (909L, 0L)))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("crossModalIncremental text leg: probe trigger bytes invariant under index growth") {
    val fpTable = "cm_prune_fp"
    val labTable = "cm_prune_labels"
    val fwdTable = "cm_prune_fwd"
    Seq(fpTable, labTable, fwdTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val srcDir = java.nio.file.Files.createTempDirectory("cmprune-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cmprune-ckpt").toString
    val outRoot = java.nio.file.Files.createTempDirectory("cmprune-out").toString
    val noMedia = Array.empty[Byte]
    def mediaDocs(docs: Seq[(Long, String)]): DataFrame =
      docs.map { case (id, t) => (id, noMedia, noMedia, t) }
        .toDF("doc_id", "img", "wav", "text")
    // seed INCLUDES the probe ids: the probe triggers are byte-identical
    // replays of already-labeled docs, so neither the fingerprint index
    // nor the label table moves between the two measurements
    val seedRows = (0 until 120).map(i => (i.toLong, s"cm body $i unique words here")) ++
      Seq((900L, "cm body 5 unique words here"), (901L, "cm body 11 unique words here"))
    val seed = mediaDocs(seedRows)
    val probe = mediaDocs(Seq(
      (900L, "cm body 5 unique words here"), (901L, "cm body 11 unique words here")))
    // growth must avoid BOTH key spaces the probe trigger reads
    // partition-pruned: the text fingerprints and the endpoint labels
    val fpPP = keyParts(
      probe.select(Dedup.exactFingerprint(col("text")).as("key")), "key")
    val labPP = keyParts(
      Seq(900L, 901L, 5L, 11L).toDF("key"), "key")
    seed.coalesce(1).write.mode("append").parquet(srcDir)
    val staged = stageFile(probe, "cmprune")
    val q = EventStream.crossModalIncremental(
      spark.readStream.schema(seed.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      outRoot + "/imgidx", outRoot + "/audidx", fpTable, labTable, fwdTable,
      outRoot + "/pairs", checkpointLocation = Some(ckpt))
    try {
      withListener {
        q.processAllAvailable()
        val bytes1 = measured {
          copyIn(staged, srcDir, "probe1.parquet")
          q.processAllAvailable()
        }
        assert(bytes1 > 0L)
        (1 to 3).foreach { g =>
          val cand = (0 until 250).map(i =>
            (100000L * g + i, s"cm growth ${100000L * g + i} body words"))
          val df = mediaDocs(cand)
          val dirty = df.select(col("doc_id"),
              pmod(hash(Dedup.exactFingerprint(col("text"))), lit(Parts)).as("__fp"),
              pmod(hash(col("doc_id")), lit(Parts)).as("__lp"))
            .filter(col("__fp").isin(fpPP.toSeq: _*) || col("__lp").isin(labPP.toSeq: _*))
            .select(col("doc_id"))
          df.join(dirty, Seq("doc_id"), "left_anti")
            .coalesce(1).write.mode("append").parquet(srcDir)
          q.processAllAvailable()
        }
        val bytes2 = measured {
          copyIn(staged, srcDir, "probe2.parquet")
          q.processAllAvailable()
        }
        assert(bytes2 === bytes1,
          s"probe trigger scales with the index: $bytes1 bytes before growth, $bytes2 after")
      }
      // the replays paired each probe id with its seed twin, both times
      val pairs = spark.read.parquet(outRoot + "/pairs").distinct()
        .filter(col("id_b") >= 900L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(pairs === Set((5L, 900L, "text"), (11L, 901L, "text")))
    } finally {
      q.stop()
      Seq(fpTable, labTable, fwdTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  // ——— the grouped sketch sink's pruned probe (r17) ———

  /** The grouped sketch sinks share one applier skeleton
    * (EventStream.applyGroupedSketchBatch), so the bytes-read invariance
    * pin runs once per ALGEBRA over the same harness: seed, probe under
    * a refused replay (byte-identical files across measurements), grow
    * the state ~8× strictly in keys routing AWAY from the probed
    * partitions, re-probe, assert non-growth.
    */
  private def groupedProbeInvariant(
      name: String, table: String,
      apply: (DataFrame, DataFrame => DataFrame, String, Long) => Boolean): Unit =
    test(s"$name: probe bytes invariant as the state table grows in unprobed keys") {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val toKV = (b: DataFrame) => b.select(col("k").as("key"), col("v").as("value"))
      def batchOf(keys: Seq[String], vBase: Int): DataFrame =
        keys.zipWithIndex.flatMap { case (k, i) =>
          (0 until 5).map(j => (k, vBase + i * 10 + j))
        }.toDF("k", "v")
      val seedKeys = (0 until 10).map(i => s"gk$i")
      // seed ids 0..2; the last batch (id 2) touches the probe keys, so a
      // replayed id-2 probe is the legitimate no-write trigger the
      // measurement needs (refused fold → the probed partitions' files are
      // byte-identical across both measurements)
      (0L to 2L).foreach { id =>
        assert(apply(batchOf(seedKeys, 100 * id.toInt), toKV, table, id))
      }
      // the probed partitions: the fold's pruned read touches only the
      // batch keys' routing partitions, so growth routes away from them
      val pp = keyParts(batchOf(Seq("gk3", "gk7"), 0)
        .select(col("k").as("key")), "key")
      withListener {
        // measurement = an APPLIED fold of the same two keys (r19: a
        // REFUSED replay now decides from the manifest meta alone and
        // reads zero table bytes, so the probe to pin lives only on the
        // applied path). Compact first so each measurement's probe reads
        // one generation per partition.
        def foldBytes(id: Long, vBase: Int): Long = {
          Store.compact(spark, table)
          measured {
            assert(apply(batchOf(Seq("gk3", "gk7"), vBase), toKV, table, id),
              "the measured trigger must be an applied fold")
          }
        }
        val bytes1 = foldBytes(3L, 200)
        assert(bytes1 > 0L, "the fold read no bytes — the pin is vacuous")
        // the meta-watermark refusal contract: a replayed id is decided
        // from the manifest alone — no commit happens (manifest version
        // unchanged), and the probed partitions' files never move
        val vBefore = Store.readManifest(spark, table).get._1
        assert(!apply(batchOf(Seq("gk3", "gk7"), 200), toKV, table, 3L),
          "the replayed id must refuse")
        assert(Store.readManifest(spark, table).get._1 === vBefore,
          "a refused replay must not commit a manifest version")
        // grow the state table ~8× strictly in keys that route AWAY from
        // the probe keys' partitions, under fresh monotone batch ids
        (1 to 8).foreach { g =>
          val growKeys = (0 until 40).map(i => s"grow-$g-$i").toDF("key")
            .withColumn("__p", pmod(hash(col("key")), lit(Parts)))
            .collect().filterNot(r => pp.contains(r.getInt(1)))
            .map(_.getString(0)).toSeq
          assert(apply(batchOf(growKeys, 1000 * g), toKV, table, 3L + g))
        }
        val bytes2 = foldBytes(12L, 300)
        // both measurements run post-compaction (one generation per
        // partition). The probed keys' sketches absorbed one more fold
        // between the measurements, so their rows are a few bytes
        // heavier — the contract is NO SCALING with the 8× unprobed
        // growth (a lost pruning reads ~8× here), not byte equality
        assert(bytes2 <= bytes1 * 3 / 2 + 4096,
          s"grouped probe scales with the state table: $bytes1 before growth, $bytes2 after")
        val nKeys = Store.read(spark, table).count()
        assert(nKeys > 200L, s"growth did not land ($nKeys keys) — the pin is vacuous")
      }
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }

  groupedProbeInvariant("applyGroupedQuantileBatch", "gqs_prune_tab",
    (b, toKV, t, id) => EventStream.applyGroupedQuantileBatch(
      b, toKV, t, id, k = 200, buckets = 4, parts = Parts))

  groupedProbeInvariant("applyGroupedDistinctBatch", "ghll_prune_tab",
    (b, toKV, t, id) => EventStream.applyGroupedDistinctBatch(
      b.withColumn("v", col("v").cast("string")), toKV, t, id,
      lgK = 12, buckets = 4, parts = Parts))

  groupedProbeInvariant("applyGroupedCmsBatch", "gcms_prune_tab",
    (b, toKV, t, id) => EventStream.applyGroupedCmsBatch(
      b.withColumn("v", col("v").cast("string")), toKV, t, id,
      eps = 0.01, buckets = 4, parts = Parts))

  groupedProbeInvariant("applyGroupedThetaBatch", "gtheta_prune_tab",
    (b, toKV, t, id) => EventStream.applyGroupedThetaBatch(
      b.withColumn("v", col("v").cast("string")), toKV, t, id,
      lgK = 12, buckets = 4, parts = Parts))

  groupedProbeInvariant("applyGroupedMultiSketchBatch", "gmulti_prune_tab",
    (b, toKV, t, id) => EventStream.applyGroupedMultiSketchBatch(
      b, toKV, t, id, k = 200, lgK = 12, eps = 0.01,
      buckets = 4, parts = Parts))

  test("multi-sketch applier runs fewer jobs than the three single-family appliers") {
    // the one-pass claim, made executable: same batch, same keys — the
    // composed KLL+HLL+CMS applier pays ONE probe + ONE merge + ONE
    // upsert where the three single sinks pay three of each
    val toKV = (b: DataFrame) => b.select(col("k").as("key"), col("v").as("value"))
    def batchOf(vBase: Int): DataFrame =
      (0 until 10).flatMap(i => (0 until 5).map(j => (s"mk$i", vBase + i * 10 + j)))
        .toDF("k", "v").localCheckpoint()
    val singles = Seq("ms_kll_tab", "ms_hll_tab", "ms_cms_tab")
    (singles :+ "ms_multi_tab").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def countJobs(f: => Unit): Int =
      org.apache.spark.SpecBus.jobsDuring(spark.sparkContext)(f)
    // seed both shapes (table creation paths excluded from the measure)
    def applySingles(b: DataFrame, id: Long): Unit = {
      EventStream.applyGroupedQuantileBatch(b, toKV, "ms_kll_tab", id, k = 200)
      EventStream.applyGroupedDistinctBatch(
        b.withColumn("v", col("v").cast("string")), toKV, "ms_hll_tab", id, lgK = 12)
      EventStream.applyGroupedCmsBatch(
        b.withColumn("v", col("v").cast("string")), toKV, "ms_cms_tab", id, eps = 0.01)
      ()
    }
    def applyMulti(b: DataFrame, id: Long): Unit = {
      EventStream.applyGroupedMultiSketchBatch(
        b, toKV, "ms_multi_tab", id, k = 200, lgK = 12, eps = 0.01)
      ()
    }
    applySingles(batchOf(0), 0L); applyMulti(batchOf(0), 0L)
    val jSingles = countJobs(applySingles(batchOf(100), 1L))
    val jMulti = countJobs(applyMulti(batchOf(100), 1L))
    assert(jMulti < jSingles,
      s"composed applier did not save jobs: multi=$jMulti singles=$jSingles")
    (singles :+ "ms_multi_tab").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  // ——— compaction cadence for the exact-path sinks (r16 verdict #2) ———

  test("exact-path sinks fold their index delta chains on the compactEvery cadence") {
    val table = "xd_cadence_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val srcDir = java.nio.file.Files.createTempDirectory("xdcad-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("xdcad-ckpt").toString
    val labelsOut = java.nio.file.Files.createTempDirectory("xdcad-out").toString + "/labels"
    // 4 batches, compactEvery=2: compaction fires mid-stream (after b2)
    // and at the end (after b4) — later batches must read the folded
    // table transparently
    val batches = Seq(
      Seq((1L, "a"), (2L, "b")),
      Seq((3L, "a"), (4L, "c")),
      Seq((5L, "b"), (6L, "d")),
      Seq((7L, "d"), (8L, "e")))
    val first = batches.head.toDF("doc_id", "text")
    val q = EventStream.exactDedupIncremental(
      spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      "doc_id", "text", table, labelsOut,
      checkpointLocation = Some(ckpt), compactEvery = 2)
    try {
      batches.foreach { b =>
        b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
      val labels = spark.read.parquet(labelsOut).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
      assert(labels === Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L,
        5L -> 2L, 6L -> 6L, 7L -> 6L, 8L -> 8L))
      // the cadence folded every delta chain the stream accumulated
      assert(Store.compactionPlan(spark, table).isEmpty,
        "index still carries delta chains after the final on-cadence compaction")
      val keepers = Store.read(spark, table).collect()
        .map(_.getAs[Long]("keeper")).toSet
      assert(keepers === Set(1L, 2L, 4L, 6L, 8L))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
