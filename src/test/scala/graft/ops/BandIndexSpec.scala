package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pre-banded persisted signature index both ways (r15 — ADVICE r14
  * #3 and its MinHash twin): the probe/append loop over any batch split
  * equals the batch candidate pipeline, and — the scale claim made
  * executable — a probe's BYTES READ from the index is invariant as the
  * index grows in non-colliding buckets (partition pruning at the file
  * listing, not a full-index re-band per trigger).
  */
class BandIndexSpec extends SparkSpec {
  import spark.implicits._

  private def sigsOf(docs: DataFrame): DataFrame =
    Dedup.minhashSignaturesScanLocal(docs, "doc_id", "text", k = 4, w = 3)

  test("minhash probe+append over ordered batches equals the batch candidate pipeline") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val docs = Seq(
      (1L, base), (2L, base),                       // dup pair within one batch
      (3L, "alpha beta gamma delta words epsilon zeta"),
      (4L, base),                                   // dup of 1/2 in a LATER batch
      (5L, "unrelated totally different content entirely"),
      (6L, "alpha beta gamma delta words epsilon zeta")) // dup of 3 across batches
    val all = docs.toDF("doc_id", "text")
    val expect = Dedup.minhashCandidates(
        Dedup.minhashBands(sigsOf(all), "doc_id", k = 4, r = 2), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expect.nonEmpty)
    val path = java.nio.file.Files.createTempDirectory("bandmh").toString + "/idx"
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    docs.grouped(2).foreach { chunk =>
      val sigs = sigsOf(chunk.toDF("doc_id", "text"))
      got ++= Dedup.probeMinhashBandIndex(spark, path, sigs, "doc_id", k = 4, r = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      Dedup.appendMinhashBandIndex(sigs, path, "doc_id", k = 4, r = 2)
    }
    assert(got.toSet === expect, "banded probe diverged from the batch pipeline")
  }

  test("simhash probe+append over ordered batches equals the batch pipeline, hammings included") {
    // planted 64-bit signatures: (1,2) at hamming 1, (3,4) at hamming 2,
    // 5 far from everything
    val sigs = Seq(
      (1L, 0x0123456789abcdefL), (2L, 0x0123456789abcdeeL),
      (3L, 0x7777000011112222L), (4L, 0x7777000011112228L ^ 2L),
      (5L, -1L))
    val all = sigs.toDF("media_id", "simhash")
    val expect = Dedup.simhashCandidates(all, "media_id", maxHamming = 3, sigBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expect.map(p => (p._1, p._2)) === Set((1L, 2L), (3L, 4L)))
    val path = java.nio.file.Files.createTempDirectory("bandsh").toString + "/idx"
    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    sigs.grouped(2).foreach { chunk =>
      val s = chunk.toDF("media_id", "simhash")
      got ++= Dedup.probeSimhashBandIndex(spark, path, s, "media_id",
          maxHamming = 3, sigBits = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      Dedup.appendSimhashBandIndex(s, path, "media_id", maxHamming = 3, sigBits = 64)
    }
    assert(got.toSet === expect, "banded simhash probe diverged from the batch pipeline")
  }

  test("probe bytes read are invariant as the index grows in non-colliding buckets") {
    val nBuckets = 64
    def bucketKeys(docs: DataFrame): Set[Long] =
      Dedup.minhashBands(sigsOf(docs), "doc_id", k = 4, r = 2)
        .select(($"band_idx".cast("long") * nBuckets +
          pmod(xxhash64($"band_key"), lit(nBuckets.toLong))).as("pk"))
        .distinct().collect().map(_.getLong(0)).toSet
    val probeDocs = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta"),
      (901L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val probeKeys = bucketKeys(probeDocs)
    // ONE planted index twin of probe 900 guarantees a real collision (the
    // probe must do nonzero index work); fillers are kept only if their
    // buckets avoid the probe's, so growth is provably non-colliding
    val planted = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    def cleanFillers(offset: Long, n: Int): DataFrame = {
      val f = (0 until n).map(i =>
        (offset + i, s"filler document number ${offset + i} carrying body words here"))
        .toDF("doc_id", "text")
      val bands = Dedup.minhashBands(sigsOf(f), "doc_id", k = 4, r = 2)
        .withColumn("pk", $"band_idx".cast("long") * nBuckets +
          pmod(xxhash64($"band_key"), lit(nBuckets.toLong)))
      val colliding = bands.filter($"pk".isin(probeKeys.toSeq: _*))
        .select($"doc_id").distinct()
      f.join(colliding, Seq("doc_id"), "left_anti")
    }
    val path = java.nio.file.Files.createTempDirectory("bandinv").toString + "/idx"
    Dedup.appendMinhashBandIndex(sigsOf(planted), path, "doc_id", k = 4, r = 2,
      nBuckets = nBuckets)
    Dedup.appendMinhashBandIndex(sigsOf(cleanFillers(1000L, 150)), path, "doc_id",
      k = 4, r = 2, nBuckets = nBuckets)

    def probeBytes(): (Set[(Long, Long)], Long) = {
      var pairs: Set[(Long, Long)] = Set.empty
      // the probe's new side is a LocalRelation (no file input), so the
      // bytes-read delta is exactly the index scan
      val bytes = org.apache.spark.SparkEvents.during(spark.sparkContext) {
        pairs = Dedup.probeMinhashBandIndex(spark, path, sigsOf(probeDocs),
            "doc_id", k = 4, r = 2, nBuckets = nBuckets)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }.inputBytes
      (pairs, bytes)
    }
    val (pairs1, bytes1) = probeBytes()
    assert(pairs1 === Set((10L, 900L)), s"planted collision not found: $pairs1")
    assert(bytes1 > 0L, "the probe read no index bytes — the collision pin is vacuous")
    // grow the index ~8× in non-colliding buckets only
    (1 to 8).foreach(g => Dedup.appendMinhashBandIndex(
      sigsOf(cleanFillers(g * 10000L, 150)), path, "doc_id", k = 4, r = 2,
      nBuckets = nBuckets))
    val (pairs2, bytes2) = probeBytes()
    assert(pairs2 === pairs1)
    assert(bytes2 === bytes1,
      s"probe scan scales with the index: $bytes1 bytes before growth, $bytes2 after")
  }

  private def dataFilesByDir(path: String): Map[String, Seq[String]] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        out += f.getPath
    }
    out.toSeq.groupBy(_.getParent.toString).map { case (d, fs0) =>
      d -> fs0.map(_.getName)
    }
  }

  test("compactBandIndex: one file per dir after, probes unchanged, crash duplicates absorbed") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val batches = Seq(
      Seq((1L, base), (2L, "alpha beta gamma delta words epsilon zeta")),
      Seq((3L, base), (4L, "unrelated totally different content entirely")),
      Seq((5L, "alpha beta gamma delta words epsilon zeta")))
    val path = java.nio.file.Files.createTempDirectory("bandcompact").toString + "/idx"
    batches.foreach(c =>
      Dedup.appendMinhashBandIndex(sigsOf(c.toDF("doc_id", "text")), path, "doc_id",
        k = 4, r = 2))
    val probe = sigsOf(Seq((900L, base)).toDF("doc_id", "text"))
    def probePairs(): Set[(Long, Long)] =
      Dedup.probeMinhashBandIndex(spark, path, probe, "doc_id", k = 4, r = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probePairs()
    assert(before.contains((1L, 900L)) && before.contains((3L, 900L)))
    assert(dataFilesByDir(path).exists(_._2.size > 1),
      "fixture never accumulated multi-file dirs — the fold pin is vacuous")
    val folded = Dedup.compactBandIndex(spark, path)
    assert(folded > 0)
    val after = dataFilesByDir(path)
    assert(after.nonEmpty && after.forall(_._2.size == 1),
      s"dirs still crowded after compaction: ${after.filter(_._2.size > 1).keys}")
    assert(probePairs() === before, "compaction changed the probe's pair set")
    // already-compact index: the fold is a no-op
    assert(Dedup.compactBandIndex(spark, path) === 0)
    // crash window: the fold APPENDED its file but died before deleting the
    // snapshot — simulated by re-appending an already-indexed batch
    // (duplicate band rows, exactly what the half-committed fold leaves).
    // Probes absorb the duplicates; a re-run of the fold converges.
    Dedup.appendMinhashBandIndex(sigsOf(batches.head.toDF("doc_id", "text")), path,
      "doc_id", k = 4, r = 2)
    assert(probePairs() === before, "duplicate band rows changed the probe's pair set")
    assert(Dedup.compactBandIndex(spark, path) > 0)
    assert(dataFilesByDir(path).forall(_._2.size == 1))
    assert(probePairs() === before)
  }

  test("compactPairFacts folds per-trigger pair files to one distinct file; value set unchanged") {
    val path = java.nio.file.Files.createTempDirectory("pairfacts").toString + "/pairs"
    // three "triggers", the middle one a replay (duplicate rows by value)
    Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b").write.mode("append").parquet(path)
    Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b").write.mode("append").parquet(path)
    Seq((5L, 6L)).toDF("id_a", "id_b").write.mode("append").parquet(path)
    def pairSet(): Set[(Long, Long)] =
      spark.read.parquet(path).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairSet()
    assert(before === Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert(Dedup.compactPairFacts(spark, path) > 0)
    assert(pairSet() === before)
    // folded to one file, raw row count now equals the distinct count
    assert(dataFilesByDir(path).values.map(_.size).sum === 1)
    assert(spark.read.parquet(path).count() === 3L)
    // already compact: no-op
    assert(Dedup.compactPairFacts(spark, path) === 0)
  }

  test("nBuckets sidecar: a mismatched probe or append fails loudly instead of dropping collisions") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val sigs = sigsOf(Seq((1L, base)).toDF("doc_id", "text"))
    val path = java.nio.file.Files.createTempDirectory("bandmeta").toString + "/idx"
    Dedup.appendMinhashBandIndex(sigs, path, "doc_id", k = 4, r = 2, nBuckets = 8)
    // matching value: fine both ways
    Dedup.probeMinhashBandIndex(spark, path, sigs, "doc_id", k = 4, r = 2, nBuckets = 8)
      .collect()
    Dedup.appendMinhashBandIndex(sigs, path, "doc_id", k = 4, r = 2, nBuckets = 8)
    // mismatched probe would silently name the wrong dirs — must throw
    val e1 = intercept[IllegalArgumentException] {
      Dedup.probeMinhashBandIndex(spark, path, sigs, "doc_id", k = 4, r = 2, nBuckets = 64)
    }
    assert(e1.getMessage.contains("nBuckets=8"))
    // mismatched append would split the key space across layouts — must throw
    intercept[IllegalArgumentException] {
      Dedup.appendMinhashBandIndex(sigs, path, "doc_id", k = 4, r = 2, nBuckets = 64)
    }
    // a probe against a not-yet-created index validates vacuously
    val fresh = java.nio.file.Files.createTempDirectory("bandmeta2").toString + "/idx"
    assert(Dedup.probeMinhashBandIndex(spark, fresh, sigs, "doc_id", k = 4, r = 2,
      nBuckets = 64).collect().isEmpty)
    // a LEGACY index (data, no sidecar) must fail the append loudly —
    // recording the new caller's value would be a false certificate over
    // rows whose real bucket count is unknowable
    val legacy = java.nio.file.Files.createTempDirectory("bandmeta3").toString + "/idx"
    Dedup.appendMinhashBandIndex(sigs, legacy, "doc_id", k = 4, r = 2, nBuckets = 8)
    java.nio.file.Files.delete(java.nio.file.Paths.get(legacy, "_nbuckets"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendMinhashBandIndex(sigs, legacy, "doc_id", k = 4, r = 2, nBuckets = 8)
    }
    assert(e2.getMessage.contains("no _nbuckets sidecar"))
  }

  test("simhash probe's cell set: driver-local sigs match the distributed route, zero cell jobs (r20)") {
    val path = java.nio.file.Files.createTempDirectory("bandcells").toString + "/idx"
    val indexed = Seq((1L, 0x0123456789abcdefL), (2L, 0x7777000011112222L), (3L, -1L))
    Dedup.appendSimhashBandIndex(indexed.toDF("media_id", "simhash"), path, "media_id",
      maxHamming = 3, sigBits = 64)
    val probeSigs = Seq((900L, 0x0123456789abcdeeL), (901L, 0x7777000011112223L))
    // LOCAL frame (the streaming sinks' shape) vs the SAME sigs forced
    // distributed: identical pair sets — the driver-side cell computation
    // must name exactly the dirs the distributed distinct named
    val local = probeSigs.toDF("media_id", "simhash")
    val dist = probeSigs.toDF("media_id", "simhash").repartition(2).localCheckpoint()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      Dedup.probeSimhashBandIndex(spark, path, df, "media_id",
          maxHamming = 3, sigBits = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fromLocal = pairs(local)
    assert(fromLocal === pairs(dist),
      "driver-side cell computation diverged from the distributed distinct")
    assert(fromLocal.map(p => (p._1, p._2)) === Set((1L, 900L), (2L, 901L)))
    // and the local route's cell set costs no Spark job of its own: probe
    // CONSTRUCTION still pays the index read's schema job (readBandCells),
    // but the distributed route pays that PLUS the distinct+collect — so
    // local construction must run strictly fewer jobs
    def jobsDuring(f: => Unit): Int =
      org.apache.spark.SparkEvents.during(spark.sparkContext)(f).jobs
    val jLocal = jobsDuring {
      Dedup.probeSimhashBandIndex(spark, path, local, "media_id",
        maxHamming = 3, sigBits = 64); ()
    }
    val jDist = jobsDuring {
      Dedup.probeSimhashBandIndex(spark, path, dist, "media_id",
        maxHamming = 3, sigBits = 64); ()
    }
    assert(jLocal < jDist,
      s"local-sig probe construction must skip the distinct+collect job: local=$jLocal dist=$jDist")
  }

  test("compactBandIndex folds the simhash chunk layout too (partition names recovered)") {
    val path = java.nio.file.Files.createTempDirectory("bandcompactsh").toString + "/idx"
    val sigs = Seq((1L, 0x0123456789abcdefL), (2L, 0x0123456789abcdeeL), (3L, -1L))
    sigs.grouped(1).foreach(c =>
      Dedup.appendSimhashBandIndex(c.toDF("media_id", "simhash"), path, "media_id",
        maxHamming = 3, sigBits = 64))
    def probePairs(): Set[(Long, Long, Int)] =
      Dedup.probeSimhashBandIndex(spark, path,
          Seq((900L, 0x0123456789abcdefL)).toDF("media_id", "simhash"), "media_id",
          maxHamming = 3, sigBits = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = probePairs()
    assert(before === Set((1L, 900L, 0), (2L, 900L, 1)))
    assert(Dedup.compactBandIndex(spark, path) > 0)
    assert(dataFilesByDir(path).forall(_._2.size == 1))
    assert(probePairs() === before)
  }
}
