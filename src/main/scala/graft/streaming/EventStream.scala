package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.immutable.ArraySeq

/** Structured-Streaming twins of the batch event analytics
  * ([[graft.ops.Events]]). The reference has no streaming surface
  * (SURVEY §2.11); this is the beyond-parity extension over the `events`
  * table shape: readStream → windowed agg with watermark → sink.
  *
  * The transforms take a (possibly streaming) DataFrame so batch tests and
  * MemoryStream tests drive the exact same code.
  */
object EventStream {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types._

  /** The events table schema as a stream contract (ts in µs here — the
    * batch loader's post-conversion shape, so stream and batch transforms
    * compose identically).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a parquet directory: new files appear → new
    * micro-batches. `maxFilesPerTrigger` bounds batch size so a backlog
    * replay cannot blow executor memory — the knob that matters when a
    * cluster restarts against a day of backlog.
    */
  def fromParquetDir(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Tumbling 1-hour counts/sums with a 2-hour watermark: late events
    * beyond the watermark are dropped, state is bounded — the property that
    * matters when this runs for months on a cluster. Value sums go through
    * exact DECIMAL like the batch twin ([[graft.ops.Events.tumblingHourly]])
    * — micro-batch arrival order must not change the answer.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(graft.Num.dec6(col("value"))), 2).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** File-source stream directly over the driver's `events.parquet`,
    * normalizing ts exactly as [[graft.Tables.events]] does — the REAL
    * table feeds the stream. The file source needs a DECLARED schema, and
    * ts's physical layout has varied across testdata generations (INT64
    * TIMESTAMP(NANOS) read as LONG via `nanosAsLong`; TIMESTAMP(MICROS)
    * read as TIMESTAMP_NTZ), so the batch reader sniffs the footer type
    * once (driver-side, one file's metadata) and the declared schema +
    * conversion follow it. The file source requires a DIRECTORY — stream
    * the sf dir with a glob filter selecting the events file(s).
    */
  def fromEventsNanosParquet(
      spark: SparkSession, sfDir: String, maxFilesPerTrigger: Int = 16): DataFrame = {
    val physical = spark.read
      .option("pathGlobFilter", "events*.parquet").parquet(sfDir)
      .schema("ts").dataType
    val raw = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = physical)
      case f                   => f
    })
    val stream = spark.readStream
      .schema(raw)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "events*.parquet")
      .parquet(sfDir)
    physical match {
      case LongType         => stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => stream.withColumn("ts", col("ts").cast("timestamp"))
      case _                => stream
    }
  }

  /** Streaming upsert sink: each micro-batch of an update-mode aggregate is
    * merged into a managed [[graft.sources.Store]] table by key — the
    * read-optimized serving-table pattern (the reference's "index the
    * latest recommendation per user" loop, minus the driver-side loop).
    * [[graft.sources.Store.upsert]] rewrites only the partitions the
    * batch's keys hash into, so per-batch cost scales with batch size.
    *
    * `checkpointLocation` makes the pipeline restart-safe: source offsets,
    * watermark, and aggregate state are persisted, so a restarted query
    * resumes from the last committed batch instead of reprocessing the
    * backlog (EventStreamSpec pins this). foreachBatch is at-least-once on
    * failure boundaries; the keyed upsert is idempotent per batch, so a
    * replayed batch converges instead of double-applying.
    *
    * Every non-empty batch appends one delta generation to the table, so
    * an unbounded stream grows the merge-on-read chain; `compactEvery`
    * is the STAT-DRIVEN fold threshold (r17 —
    * [[graft.sources.Store.compactIfNeeded]]): a partition folds when
    * its own delta chain reaches this many generations, checked every
    * applied batch from FS metadata alone. For a stream whose batches
    * touch every partition this is exactly the old every-N cadence; for
    * skewed streams, quiet partitions stop paying no-op folds and hot
    * ones stop falling behind. 0 disables (callers owning their own
    * maintenance window).
    */
  def toStoreUpsert(
      aggregated: DataFrame, table: String, idCol: String, buckets: Int = 16,
      checkpointLocation: Option[String] = None, parts: Int = 16,
      availableNow: Boolean = false, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = aggregated.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val materialized = batch.persist()
        try {
          // watermark-advance triggers call foreachBatch with no rows —
          // don't pay the upsert's fixed job cost for an empty merge
          if (!materialized.isEmpty) {
            if (graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(table)))
              // batch-bounded → localized (r17): stats + routing run
              // driver-side under the cap, distributed past it
              graft.sources.Store.upsert(spark, table,
                graft.sources.Store.localized(materialized.toDF()), idCol, buckets)
            else
              graft.sources.Store.bulkWrite(
                materialized.toDF(), table, idCol, buckets = buckets, parts = parts)
            if (compactEvery > 0) {
              graft.sources.Store.compactIfNeeded(spark, table, compactEvery)
              ()
            }
          }
        } finally materialized.unpersist()
      }
    checkpointLocation.foreach(dir => w.option("checkpointLocation", dir))
    // AvailableNow = drain the current backlog, then terminate on its own
    // (the batch analog of a bounded run); default = run until stopped
    if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    w.start()
  }

  /** STREAMING store upsert WITH CDC-SYNCED INDEXES (r13 — the
    * continuous form of the [[graft.ops.IndexSync]] loop): each
    * micro-batch of documents upserts the corpus store table, the
    * batch's committed CHANGELOG ([[graft.sources.Store.changes]] over
    * exactly the versions the upsert spanned — manifest-pruned, so the
    * diff costs the batch, not the table) is applied to the requested
    * derived indexes, and the stream moves on. After every trigger the
    * exact-dedup and near-dup signature indexes are correct for the
    * table's current state — the reference's "every index call is
    * immediately searchable" refresh
    * (`/root/reference/src/elasticsearch_ingest.py:146`), engine-native
    * and O(batch) per trigger.
    *
    * Delivery: foreachBatch is at-least-once — a replayed batch
    * re-upserts the same values, so its changelog diffs EMPTY and the
    * index applies converge to no-ops (value-based CDC is what makes the
    * replay safe; a batch-derived sync would re-apply blindly).
    *
    * ANN (r14 — VERDICT r13 #2): pass `ivfIndexPath` (+ `vecCol`) to keep
    * a stored IVF index in the same per-trigger loop. The index records
    * the corpus version it reflects as `_corpus-v-N` markers in its
    * current generation ([[graft.ops.Similarity.markIvfCorpusSynced]] —
    * the path-layout analog of the table property), advances via
    * [[graft.ops.IndexSync.syncIvfIndex]] (tombstone-then-append under
    * two-phase ready markers, so a mid-sync crash replays exactly-once),
    * and REBUILDS from the table's current state when no usable recorded
    * version exists (absent index, vacuumed span, fresh corpus) — the
    * codebook trains on the first batch and stays frozen across syncs,
    * exactly the batch appendIvfIndex contract; recall/backlog
    * maintenance remains the caller's [[graft.ops.Similarity
    * .maintainIvfIndex]] loop.
    */
  def toStoreUpsertWithIndexSync(
      docs: DataFrame, table: String, idCol: String, textCol: String,
      exactIndexTable: Option[String] = None,
      sigIndexTable: Option[String] = None,
      k: Int = 4, w: Int = 3, buckets: Int = 4, parts: Int = 8,
      checkpointLocation: Option[String] = None, compactEvery: Int = 16,
      ivfIndexPath: Option[String] = None, vecCol: String = "embedding",
      nCentroids: Int = 16, seed: Long = 42L, quantized: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(ivfIndexPath.isEmpty || docs.columns.contains(vecCol),
      s"ivfIndexPath set but the stream carries no '$vecCol' column")
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // localCheckpoint, NOT localized (r18, ADVICE r17 medium): the
        // batch carries PAYLOAD columns (document text, optionally an
        // embedding vector), and payloads must never collect
        // driver-side — 200k such rows is GBs of driver heap, exactly
        // the rule the media sinks already follow. The one-source-scan
        // and lineage-cut contract is the same; only narrow DERIVED
        // frames (fingerprints, signatures, ids) localize below.
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          val fresh = !graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(table))
          if (fresh)
            graft.sources.Store.bulkWrite(b, table, idCol,
              buckets = buckets, parts = parts, validateKeys = true)
          else
            graft.sources.Store.upsert(spark, table, b, idCol, buckets)
          val post = graft.sources.Store.versions(spark, table).last
          val retained = graft.sources.Store.versions(spark, table).toSet
          // Each index advances from its OWN recorded corpus version —
          // never from "the span this batch's upsert committed" — which
          // closes the at-least-once crash windows (code-review r13 #1 +
          // second pass #1/#3): a missing index, a crash between corpus
          // commit and index apply, a crash between apply and the mark,
          // and a freshly re-created corpus under an old index all
          // resolve correctly:
          //  - recorded == post           → nothing to do (full replay);
          //  - recorded retained          → apply changes(recorded, post)
          //    (re-applying an already-applied span is idempotent — keyed
          //    deterministic writes — so a pre-mark crash is safe);
          //  - otherwise (absent index, vacuumed version, fresh corpus) →
          //    REBUILD from the table's current state.
          // ONE changelog per distinct recorded span, shared across the
          // indexes syncing it (the steady state: every index recorded
          // the same previous version, so exact+sig+ivf all apply the
          // SAME diff — computing the manifest-pruned full-outer diff
          // once per index tripled that work per trigger). The changelog
          // rows carry the corpus POST-IMAGES (payload columns), so it
          // materializes via localCheckpoint, not localized (r18 — the
          // same payloads-never-collect rule as the batch above; ADVICE
          // r17 medium); each sync leg's own derived frame localizes
          // inside IndexSync where it is already narrow (fingerprints,
          // signatures, id delete sets). Either form detaches the plan
          // from the table, so no later maintenance commit can vacuum
          // the span's generations out from under it.
          val spanChangelogs = scala.collection.mutable.Map.empty[Long, DataFrame]
          def changelogFrom(s: Long): DataFrame =
            spanChangelogs.getOrElseUpdate(s,
              graft.sources.Store.changes(spark, table, s, post).localCheckpoint())
          def ensure(t: String, build: => Unit, sync: DataFrame => Unit): Unit = {
            val recorded =
              if (fresh || !graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(t))) None
              else graft.ops.IndexSync.syncedVersion(spark, t)
                .filter(retained.contains)
            recorded match {
              case Some(s) if s == post => ()
              case Some(s) => sync(changelogFrom(s))
              case None => build
            }
            graft.ops.IndexSync.markSynced(spark, t, post)
          }
          exactIndexTable.foreach(t => ensure(t,
            graft.ops.IndexSync.buildExactIndex(spark,
              graft.sources.Store.read(spark, table), t, idCol, textCol,
              buckets, parts),
            ch => graft.ops.IndexSync.syncExactIndex(spark, ch, t, idCol, textCol)))
          sigIndexTable.foreach(t => ensure(t,
            graft.ops.IndexSync.buildSignatureIndex(spark,
              graft.sources.Store.read(spark, table), t, idCol, textCol, k, w,
              buckets, parts),
            ch => graft.ops.IndexSync.syncSignatureIndex(spark, ch, t, idCol, textCol, k, w)))
          // the IVF index follows the same recorded-version contract,
          // with `_corpus-v-N` markers standing in for the table
          // property; syncIvfIndex's tombstone-then-append makes even a
          // BLIND re-apply converge, so the pre-mark crash window is
          // doubly covered here
          ivfIndexPath.foreach { p =>
            import graft.ops.Similarity
            val recorded =
              if (fresh || !Similarity.ivfIndexExists(spark, p)) None
              else Similarity.ivfSyncedCorpusVersion(spark, p)
                .filter(retained.contains)
            recorded match {
              case Some(sv) if sv == post => ()
              case Some(sv) =>
                graft.ops.IndexSync.syncIvfIndex(spark,
                  changelogFrom(sv), p, idCol, vecCol, quantized)
              case None =>
                val built = Similarity.buildIvfIndex(
                  graft.sources.Store.read(spark, table)
                    .select(col(idCol), col(vecCol))
                    .filter(col(vecCol).isNotNull),
                  idCol, vecCol, nCentroids, seed)
                if (quantized) Similarity.writeIvfIndexQuantized(built, p)
                else Similarity.writeIvfIndex(built, p)
            }
            Similarity.markIvfCorpusSynced(spark, p, post)
          }
          // every sync batch appends delta generations to the corpus
          // AND both index tables — each folds STAT-DRIVEN (r17,
          // [[graft.sources.Store.compactIfNeeded]]: a partition folds
          // when its own chain reaches `compactEvery` generations), or
          // an unbounded stream pays an unbounded merge-on-read chain
          // (compaction commits are content-neutral: a later batch's
          // changelog across them diffs empty)
          if (compactEvery > 0) {
            val corpusFolded =
              graft.sources.Store.compactIfNeeded(spark, table, compactEvery).isDefined
            (exactIndexTable ++ sigIndexTable).foreach { t =>
              graft.sources.Store.compactIfNeeded(spark, t, compactEvery); ()
            }
            // advance the marks past the corpus compaction commit, or the
            // NEXT batch would find the recorded version vacuumed by the
            // commit after it and fall back to a needless rebuild —
            // content-neutral commits make advancing the mark correct.
            // The IVF `_corpus-v` marker advances too (ADVICE r15): left
            // behind, a corpus fold would silently send the stream to a
            // full O(table) rebuild that also RETRAINS the codebook,
            // contradicting the frozen-codebook contract.
            if (corpusFolded) {
              val cur = graft.sources.Store.versions(spark, table).last
              (exactIndexTable ++ sigIndexTable).foreach(t =>
                graft.ops.IndexSync.markSynced(spark, t, cur))
              ivfIndexPath.foreach(p =>
                graft.ops.Similarity.markIvfCorpusSynced(spark, p, cur))
            }
          }
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING incremental near-dup: each micro-batch of documents is
    * signed scan-local, probed against the PERSISTED BANDED signature
    * index ([[graft.ops.Dedup.probeMinhashBandIndex]] — new×new and
    * new×old pairs, the index scan partition-pruned to the batch's
    * colliding buckets), the pairs are appended to `pairsOut`, and the
    * batch's bands append into the index layout. The continuous form of
    * the q92 operator: a crawl feed dedups against everything seen so
    * far, at per-batch cost O(batch + colliding buckets) — including
    * the SCAN, not just the join (r15; the prior doc-keyed Store index
    * re-banded the full corpus signature set per trigger — ADVICE r14's
    * MinHash twin).
    *
    * Delivery: foreachBatch is at-least-once on failure boundaries — a
    * replayed batch may re-emit its pairs (and, if its band append
    * committed, re-find them against its own rows in the index; the
    * id-inequality guard keeps self-pairs out, and the replayed append
    * leaves duplicate band rows that change no pair VALUE). Pairs are
    * therefore APPEND-ONLY FACTS that deduplicate by value: readers
    * take `distinct()` (the q94 gate does), and the final pair SET
    * equals the batch pipeline's pairs over the union of all batches,
    * for ANY arrival order or batch split — each unordered pair
    * surfaces when its later member arrives.
    */
  def nearDupIncremental(
      docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsOut: String,
      k: Int = 4, w: Int = 3, r: Int = 2,
      checkpointLocation: Option[String] = None,
      nBuckets: Int = 64, compactIndexEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // per-query batch counter (driver-side, one batch at a time — the
    // toStoreUpsert rule)
    var applied = 0L
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // one source scan per trigger (see exactDedupIncremental), but
        // localCheckpoint, NOT localized (r18, ADVICE r17 medium): the
        // batch carries document TEXT, and payloads never collect
        // driver-side — the media-sink rule
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          // materialize the signatures once, driver-resident under the
          // cap (r17 — was persist): one row of k longs per doc, so the
          // localized collect runs the signature pass exactly once —
          // DISTRIBUTED, over the checkpointed batch's cached blocks —
          // and the three consumers (probe bucket collection, pair
          // write, band append with its isEmpty) read driver rows after
          val sigs = graft.sources.Store.localized(graft.ops.Dedup
            .minhashSignaturesScanLocal(b, idCol, textCol, k, w))
          graft.ops.Dedup
            .probeMinhashBandIndex(spark, indexPath, sigs, idCol, k, r, nBuckets)
            .write.mode("append").parquet(pairsOut)
          graft.ops.Dedup
            .appendMinhashBandIndex(sigs, indexPath, idCol, k, r, nBuckets)
          applied += 1L
          // fold the index's per-batch files back to one per dir —
          // the streaming half of [[graft.ops.Dedup.compactBandIndex]]'s
          // contract (0 disables; crash windows leave only absorbed
          // duplicates, see the operator's doc)
          if (compactIndexEvery > 0 && applied % compactIndexEvery == 0) {
            graft.ops.Dedup.compactBandIndex(spark, indexPath)
            graft.ops.Dedup.compactPairFacts(spark, pairsOut)
            ()
          }
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING DUP CLUSTERS with LAZY LABELS (r15) —
    * [[nearDupIncremental]]'s pair loop composed with the union-find
    * label state of [[graft.ops.Components]]: each micro-batch signs
    * scan-locally, probes/appends the banded index (partition-pruned,
    * O(batch + colliding buckets) per trigger), appends its pairs, and
    * folds the batch into the TWO-TABLE labeling via
    * [[graft.ops.Components.applyBatch]] — the batch endpoints' label
    * rows read partition-pruned, merges recorded as forward entries, NO
    * full label-table scan anywhere in the trigger path (the per-trigger
    * O(corpus) relabel read that the eager
    * [[crossModalIncremental]]/q193 shape pays, removed). The resolved
    * view ([[graft.ops.Components.resolvedLabels]]) equals a
    * from-scratch clustering for any batch split — the q202 gate runs
    * q193's recursive-walk oracle against it verbatim.
    *
    * Maintenance every `compactIndexEvery` applied batches: band-index
    * fold, pair-fact fold, forward-table fold into the labels, and a
    * Store compact of both tables — each amortized, each crash-safe by
    * its own contract. Delivery is the incremental family's: pairs are
    * value-facts, a replayed batch's writes are empty (Components doc).
    */
  def dupClustersIncremental(
      docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsOut: String,
      labelsTable: String, forwardTable: String,
      k: Int = 4, w: Int = 3, r: Int = 2,
      checkpointLocation: Option[String] = None,
      nBuckets: Int = 64, buckets: Int = 4, parts: Int = 4,
      compactIndexEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var applied = 0L // driver-side, one batch at a time (toStoreUpsert rule)
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // the DERIVED per-trigger frames localize (signatures → pairs
        // are each cap-bounded and narrow, r17): the signature pass runs
        // exactly once, the band append's own isEmpty is free, and
        // [[graft.ops.Components.applyBatch]]'s ids/pairs collects read
        // driver rows instead of re-running their plans. The batch
        // itself carries document TEXT, so it materializes via
        // localCheckpoint — payloads never collect driver-side (r18,
        // ADVICE r17 medium; the media-sink rule)
        val b = batch.toDF().localCheckpoint()
        // commit group (r19): the labels + forward upserts defer and
        // flush back-to-back at trigger end — one sweep instead of
        // commits interleaved with the trigger's jobs; any read of a
        // pending table flushes it first, so the fold/compact block
        // sees exactly the sequential semantics
        if (!b.isEmpty) graft.sources.Store.commitGroup(spark) {
          val sigs = graft.sources.Store.localized(graft.ops.Dedup
            .minhashSignaturesScanLocal(b, idCol, textCol, k, w))
          // pairs feed two consumers (the fact dir and the label fold)
          val pairs = graft.sources.Store.localized(graft.ops.Dedup
            .probeMinhashBandIndex(spark, indexPath, sigs, idCol, k, r, nBuckets))
          pairs.write.mode("append").parquet(pairsOut)
          graft.ops.Dedup.appendMinhashBandIndex(sigs, indexPath, idCol, k, r, nBuckets)
          graft.ops.Components.applyBatch(
            spark, labelsTable, forwardTable,
            b.select(col(idCol)), idCol, pairs.select(col("id_a"), col("id_b")),
            buckets = buckets, parts = parts)
          applied += 1L
          if (compactIndexEvery > 0 && applied % compactIndexEvery == 0) {
            graft.ops.Dedup.compactBandIndex(spark, indexPath)
            graft.ops.Dedup.compactPairFacts(spark, pairsOut)
            graft.ops.Components.fold(spark, labelsTable, forwardTable, idCol, buckets)
            if (graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(labelsTable)))
              graft.sources.Store.compact(spark, labelsTable)
            ()
          }
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING IMAGE NEAR-DUP (r12 verdict #6 — [[nearDupIncremental]]'s
    * pattern over perceptual hashes): each micro-batch of media rows
    * `(media_id, payload, mime)` decodes and aHashes scan-locally
    * ([[graft.ops.Multimodal.imageAHash]]), drops the documented
    * degenerate classes (undecodable, zero-contrast saturates — each is
    * otherwise one quadratic hamming-0 hot bucket), probes the persisted
    * BANDED hash index ([[graft.ops.Dedup.probeSimhashBandIndex]],
    * `sigBits = 64` so every band shards on real bits — the index scan
    * partition-pruned to the batch's colliding buckets, r15), appends
    * its pairs, and appends its bands — old×old never re-banded OR
    * re-scanned, payloads never leave the micro-batch scan. The
    * accumulated pair set equals the batch q181 pipeline over the whole
    * corpus for any batch split (q191 gates the equality on the same
    * oracle).
    *
    * Delivery contract (the [[nearDupIncremental]] rule verbatim):
    * foreachBatch is at-least-once, so pairs are APPEND-ONLY FACTS that
    * deduplicate by VALUE — a replayed batch may re-emit its pairs (and
    * re-find them against its own already-appended bands; the id
    * inequality guard keeps self-pairs out). Readers take `distinct()`
    * (the q191 gate does); a consumer that counts or weights raw pair
    * rows must dedup first.
    */
  def imageNearDupIncremental(
      media: DataFrame, indexPath: String, pairsOut: String,
      maxHamming: Int = 3,
      checkpointLocation: Option[String] = None,
      nBuckets: Int = 64, compactIndexEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var applied = 0L // driver-side, one batch at a time (toStoreUpsert rule)
    val wr = media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // one source scan per trigger (the nearDupIncremental rule); the
        // checkpoint holds one micro-batch's payloads, released with it.
        // The batch itself stays a checkpoint, NOT localized: payloads
        // must never collect driver-side — only the signature rows do
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          // localized (r17, was persist): the collect job runs the
          // decode+hash pass DISTRIBUTED exactly once, the (id, hash)
          // rows land driver-resident, and the append's isEmpty probe
          // plus the probe's bucket collection run without a job
          val sigs = graft.sources.Store.localized(graft.ops.Multimodal
            .imageAHash(b.as[graft.ops.Multimodal.MediaRow])
            .toDF()
            .filter(col("decoded") && col("ahash") =!= -1L)
            .select(col("media_id"), col("ahash").as("simhash")))
          graft.ops.Dedup.probeSimhashBandIndex(
              spark, indexPath, sigs, "media_id", maxHamming,
              sigBits = 64, nBuckets = nBuckets)
            .write.mode("append").parquet(pairsOut)
          graft.ops.Dedup.appendSimhashBandIndex(
            sigs, indexPath, "media_id", maxHamming,
            sigBits = 64, nBuckets = nBuckets)
          applied += 1L
          if (compactIndexEvery > 0 && applied % compactIndexEvery == 0) {
            graft.ops.Dedup.compactBandIndex(spark, indexPath)
            graft.ops.Dedup.compactPairFacts(spark, pairsOut)
            ()
          }
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING CROSS-MODAL DUP CLUSTERS (r13 verdict #7 → r15 — the
    * batch q192 chain run continuously): each micro-batch carries one
    * row per document with ALL THREE modality payloads
    * `(doc_id, img, wav, text)`. Per trigger:
    *
    *  - image and audio payloads hash scan-locally
    *    ([[graft.ops.Multimodal.imageAHash]] / `audioEnergyHash`) and
    *    probe their own persisted BANDED signature indexes
    *    ([[graft.ops.Dedup.probeSimhashBandIndex]] — partition-pruned,
    *    old×old never re-scanned), then append their bands;
    *  - text rows fingerprint and probe the fingerprint→keeper Store
    *    index (the [[exactDedupIncremental]] kernel): an index hit pairs
    *    to the stored keeper, a miss pairs to the batch-local min and
    *    inserts it — the hub differs from the batch pipeline's (arrival
    *    order vs global min id) but spans the SAME component with the
    *    same pair count, which is all the cluster output observes;
    *  - the batch's pairs from all three modalities append to `pairsOut`
    *    (append-only value-deduplicated facts, the q94 rule) and fold
    *    into the TWO-TABLE lazy labeling via
    *    [[graft.ops.Components.applyBatch]] (the [[dupClustersIncremental]]
    *    shape, r15 — replacing the eager
    *    [[graft.ops.Dedup.incrementalComponents]] fold whose relabel join
    *    read the full label table every trigger): the batch endpoints'
    *    label rows read partition-pruned, merges land as forward entries,
    *    no O(corpus) read anywhere in the trigger path. The RESOLVED view
    *    ([[graft.ops.Components.resolvedLabels]]) is canonical
    *    (component = min member id), so it equals the from-scratch q192
    *    clustering for any batch split (q201 gates the equality on q192's
    *    own oracle).
    *
    * Replay contract: a replayed batch's ids are already labeled
    * (applyBatch anti-joins them out of the new-label side; feeding them
    * as new would orphan them to singletons), its pairs map endpoints
    * through their stored roots to self-edges — both table writes are
    * empty — and its index appends are absorbed exactly as in
    * [[nearDupIncremental]] / [[exactDedupIncremental]].
    *
    * Maintenance every `compactIndexEvery` applied batches: band-index
    * fold ×2, pair-fact fold, forward-table fold into the labels, and a
    * Store compact of the label table (the [[dupClustersIncremental]]
    * cadence — each amortized, each crash-safe by its own contract).
    */
  def crossModalIncremental(
      media: DataFrame, imageIdxPath: String, audioIdxPath: String,
      textIdxTable: String, labelsTable: String, forwardTable: String,
      pairsOut: String,
      maxHamming: Int = 3,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 32, nBuckets: Int = 64,
      compactIndexEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var applied = 0L // driver-side, one batch at a time (toStoreUpsert rule)
    val wr = media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        import graft.ops.{Dedup, Multimodal}
        import graft.sources.Store
        import spark.implicits._
        // the batch stays a CHECKPOINT (payloads never collect driver-
        // side); every derived frame below is signature/pair-sized and
        // localizes instead
        val b = batch.toDF().localCheckpoint()
        // commit group (r19): the text-index + labels + forward upserts
        // defer to one flush sweep at trigger end (see dupClusters)
        if (!b.isEmpty) graft.sources.Store.commitGroup(spark) {
          def mediaRows(payload: String, mime: String) =
            b.select(col("doc_id").as("media_id"),
              col(payload).as("payload"), lit(mime).as("mime"))
              .as[Multimodal.MediaRow]
          // localized BOTH signature frames (r17, was persist — the
          // imageNearDupIncremental rule): the collect job runs the
          // decode+hash pass DISTRIBUTED exactly once per modality, and
          // the four consumers per trigger (the probe's partition-key
          // collect, the pair write, the append's isEmpty + write) then
          // read driver rows — unpersisted, each action would re-DECODE
          // the batch's payloads (measured ~4× the decode cost per
          // modality per trigger on the q201 gate)
          val imgSigs = graft.sources.Store.localized(
            Multimodal.imageAHash(mediaRows("img", "image/png"))
              .toDF().filter(col("decoded") && col("ahash") =!= -1L)
              .select(col("media_id").as("doc_id"), col("ahash").as("simhash")))
          val audSigs = graft.sources.Store.localized(
            Multimodal.audioEnergyHash(mediaRows("wav", "audio/wav"))
              .toDF().filter(col("decoded"))
              .select(col("media_id").as("doc_id"), col("ehash").as("simhash")))
          // probe BEFORE appending this batch's own bands; pairs persist
          // because three consumers read them (pairsOut, the root graph,
          // and the label fold)
          def mediaPairs(sigs: DataFrame, path: String, tag: String): DataFrame =
            Dedup.probeSimhashBandIndex(spark, path, sigs, "doc_id",
                maxHamming, sigBits = 64, nBuckets = nBuckets)
              .select(col("id_a"), col("id_b"), lit(tag).as("modality"))
          // fingerprints localized (r17): one distributed md5 pass over
          // the checkpointed batch, then the probe's partition routing
          // evaluates driver-side with no per-trigger collect
          val fps = graft.sources.Store.localized(b.filter(col("text").isNotNull)
            .select(col("doc_id"), Dedup.exactFingerprint(col("text")).as("fingerprint")))
          val fpExists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(textIdxTable))
          // probe, not read (r16): only the batch fingerprints' routing
          // partitions — the text leg's twin of the banded media probes;
          // `hubbed` evaluates twice (pair write + keeper localize), so
          // localize the pruned read to scan it once per trigger
          val oldFp =
            if (fpExists)
              Store.localized(Store.probe(spark, textIdxTable, fps, "fingerprint"))
            else fps.select(col("fingerprint"), col("doc_id").as("keeper")).filter(lit(false))
          val batchMin = fps.groupBy(col("fingerprint"))
            .agg(min(col("doc_id")).as("__bmin"))
          val hubbed = fps
            .join(oldFp, Seq("fingerprint"), "left")
            .join(batchMin, Seq("fingerprint"))
            .withColumn("__k", coalesce(col("keeper"), col("__bmin")))
          val textPairs = hubbed.filter(col("doc_id") =!= col("__k"))
            .select(least(col("__k"), col("doc_id")).as("id_a"),
              greatest(col("__k"), col("doc_id")).as("id_b"),
              lit("text").as("modality"))
          // localized (r17, was persist): one distributed job runs all
          // three modality probes, then the pair write and the label
          // fold's pair collect read driver rows
          val pairs = Store.localized(mediaPairs(imgSigs, imageIdxPath, "image")
            .unionByName(mediaPairs(audSigs, audioIdxPath, "audio"))
            .unionByName(textPairs))
          locally {
            pairs.write.mode("append").parquet(pairsOut)
            // indexes advance only after the probes materialized
            Dedup.appendSimhashBandIndex(imgSigs, imageIdxPath, "doc_id",
              maxHamming, sigBits = 64, nBuckets = nBuckets)
            Dedup.appendSimhashBandIndex(audSigs, audioIdxPath, "doc_id",
              maxHamming, sigBits = 64, nBuckets = nBuckets)
            val newKeepers = Store.localized(hubbed
              .filter(col("keeper").isNull && col("doc_id") === col("__bmin"))
              .select(col("fingerprint"), col("doc_id").as("keeper")))
              // join-derived and consumed by the upsert — and the upsert
              // also re-reads the table the hub joins, so materialize
              // BEFORE the table moves; localized (r17) makes the
              // batch-bounded frame a LocalRelation, so the upsert's
              // stats and routing run driver-side
            if (fpExists) Store.upsert(spark, textIdxTable, newKeepers, "fingerprint", buckets)
            else Store.bulkWrite(newKeepers, textIdxTable, "fingerprint",
              buckets = buckets, parts = parts)
            // fold the batch into the lazy two-table labeling — endpoint
            // rows read partition-pruned, merges land as forward entries
            graft.ops.Components.applyBatch(
              spark, labelsTable, forwardTable,
              b.select(col("doc_id")), "doc_id",
              pairs.select(col("id_a"), col("id_b")),
              buckets = buckets, parts = parts)
            applied += 1L
            if (compactIndexEvery > 0 && applied % compactIndexEvery == 0) {
              Dedup.compactBandIndex(spark, imageIdxPath)
              Dedup.compactBandIndex(spark, audioIdxPath)
              Dedup.compactPairFacts(spark, pairsOut)
              graft.ops.Components.fold(spark, labelsTable, forwardTable, "doc_id", buckets)
              if (graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(labelsTable)))
                Store.compact(spark, labelsTable)
              ()
            }
          }
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING incremental EXACT dedup — [[nearDupIncremental]]'s
    * exact-match sibling, wrapping [[graft.ops.Dedup.incrementalExactKeepers]]:
    * each micro-batch is labeled against the persisted fingerprint index
    * (fingerprint → stored keeper), labels append to `labelsOut`, and the
    * index advances by upserting ONLY the batch's new keepers (an index
    * hit never rewrites its entry — first arrival wins, the ingestion-
    * order semantics of the batch operator).
    *
    * The resulting label set is a pure function of (corpus, batch
    * assignment): a doc's `dup_of` is the (arrival-batch, id)-lexicographic
    * minimum of its fingerprint class — same-batch dups resolve to the
    * min id, cross-batch dups to the earliest arrival. The q109 gate
    * replays exactly that closed form in SQL from a portable-hash batch
    * split.
    *
    * Label delivery is EXACTLY-ONCE: each batch overwrites its own
    * `labelsOut/batch=<id>` partition directory, so a batch replayed
    * after a crash between the label write and the checkpoint commit
    * replaces its own output instead of appending a duplicate copy
    * (ADVICE r7 — the bare append was at-least-once). Readers see `batch`
    * as a partition column of `labelsOut`.
    *
    * The index read is PARTITION-PRUNED (r16): each trigger probes only
    * the batch fingerprints' routing partitions via
    * [[graft.sources.Store.probe]], so per-trigger index cost is
    * O(batch), never O(corpus) — the [[graft.ops.Components.applyBatch]]
    * pattern, with bytes-read invariance pinned in StreamIndexPruneSpec.
    * `parts` defaults to 32 (not the Store-wide 4) so the pruning has
    * room: a micro-batch touches min(|batch fingerprints|, parts) dirs.
    * The index's merge-on-read delta chain folds STAT-DRIVEN
    * ([[graft.sources.Store.compactIfNeeded]], r17): a partition folds
    * when its own chain reaches `compactEvery` generations — without it
    * a long-running stream accumulates one generation per trigger.
    */
  def exactDedupIncremental(
      docs: DataFrame, idCol: String, textCol: String,
      indexTable: String, labelsOut: String,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 32, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // ONE source scan per trigger: materialize the batch FIRST — a
        // file-source batch otherwise re-reads its files once per action
        // (isEmpty + the labeling self-join's two scan branches measured
        // 4× input rows in the restart test's metrics). localCheckpoint,
        // NOT localized (r18, ADVICE r17 medium): the batch carries
        // document TEXT, and payloads never collect driver-side. The
        // NARROW fingerprint projection localizes instead — one job
        // over the cached batch blocks, after which the probe's
        // partition routing and the keeper join's driver-side paths
        // evaluate in-process exactly as before.
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          val fps = graft.sources.Store.localized(b.select(col(idCol),
            graft.ops.Dedup.exactFingerprint(col(textCol)).as("fingerprint")))
          val exists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(indexTable))
          // probe, not read: only the batch fingerprints' partitions
          val old =
            if (exists) graft.sources.Store.probe(spark, indexTable, fps, "fingerprint")
            else fps.select(col("fingerprint"), col(idCol).as("keeper")).filter(lit(false))
          // persist, not a second localCheckpoint: no eager job of its own —
          // the label write materializes the cache, the keeper upsert reuses
          // it (streaming lineage is already cut at `b`)
          val labels = graft.ops.Dedup
            .incrementalExactKeepers(old, b, idCol, textCol)
            .persist()
          try {
            labels.write.mode("overwrite").parquet(s"$labelsOut/batch=$batchId")
            // batch-bounded (one row per kept doc) → localized so the
            // index upsert's stats and routing run driver-side (r17)
            val newKeepers = graft.sources.Store.localized(fps
              .join(labels.filter(col("keep")).select(col(idCol)), Seq(idCol))
              .select(col("fingerprint"), col(idCol).as("keeper")))
            if (exists)
              graft.sources.Store.upsert(spark, indexTable, newKeepers, "fingerprint", buckets)
            else
              graft.sources.Store.bulkWrite(newKeepers, indexTable, "fingerprint",
                buckets = buckets, parts = parts)
            if (compactEvery > 0 && graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(indexTable))) {
              // stat-driven (r17): a partition folds when its own delta
              // chain reaches compactEvery generations (Store.compactIfNeeded)
              graft.sources.Store.compactIfNeeded(spark, indexTable, compactEvery)
              ()
            }
          } finally labels.unpersist()
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING stratified reservoir sample (r15): maintain an exact
    * per-stratum sample of an unbounded stream in a Store table —
    * the stable eval/holdout draw a 100 TB training pipeline needs to
    * keep while the corpus grows. Rides on
    * [[graft.ops.Training.stratifiedExact]]'s membership being a pure
    * function of the id SET (the k smallest deterministic hash handles
    * per stratum): per trigger, union the STORED sample (state-sized —
    * O(k · strata), never the corpus) with the batch, re-rank, and
    * diff — new members upsert, displaced members tombstone. The table
    * therefore always equals the batch `stratifiedExact` over every id
    * ever streamed, for any batch split (the q203 gate runs q84's
    * oracle verbatim), and a member is only ever evicted by a
    * smaller-handle arrival, never by reordering.
    *
    * Per-trigger cost is O(batch + k · strata): the reservoir is the
    * only state read, the corpus is never rescanned, and the rank runs
    * over reservoir+batch with the same WindowGroupLimit shape as the
    * batch operator.
    *
    * Replay contract (at-least-once foreachBatch): a replayed batch's
    * rows collapse against their stored copies in the pre-rank
    * `dropDuplicates(idCol)` (ids are unique in the corpus — the
    * operator's key contract), the re-rank reproduces the stored
    * sample, and both diffs come out empty: the table does not move.
    * Crash between the upsert and the delete leaves a transiently
    * over-quota stratum; [[readStratifiedSample]] re-trims on read
    * (cheap — the table is sample-sized), and the replay converges the
    * stored state itself.
    */
  def stratifiedSampleIncremental(
      docs: DataFrame, idCol: String, labelCol: String,
      sampleTable: String, counts: Map[String, Long], defaultCount: Long = 0L,
      seed: String = "graft-strat-exact",
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 4, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    reservoirIncremental(docs, idCol, sampleTable,
      graft.ops.Training.stratifiedExact(_, idCol, labelCol, counts, defaultCount, seed),
      checkpointLocation, buckets, parts, compactEvery)

  /** [[stratifiedSampleIncremental]]'s WEIGHTED sibling: maintain the
    * Efraimidis–Spirakis top-`n` draw ([[graft.ops.Training.weightedSample]]
    * — inclusion ∝ `weightCol`, without replacement) over an unbounded
    * stream. Same maintain-by-diff machinery, because the ES key too is
    * a pure per-row function of (id, weight, seed): the stored reservoir
    * always equals the batch draw over every row ever streamed, for any
    * batch split (the q204 gate runs q177's oracle verbatim). The weight
    * must be a stable function of the row — a replayed row re-keys
    * identically, so replays diff empty. Read through
    * [[readWeightedSample]] (re-trims the upsert/delete crash window).
    */
  def weightedSampleIncremental(
      docs: DataFrame, idCol: String, weightCol: String,
      sampleTable: String, n: Int, seed: String = "graft-es",
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 4, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    reservoirIncremental(docs, idCol, sampleTable,
      graft.ops.Training.weightedSample(_, idCol, weightCol, n, seed),
      checkpointLocation, buckets, parts, compactEvery)

  /** The shared reservoir sink: per trigger, union the STORED sample
    * (state-sized, never the corpus) with the batch, re-`trim`, and diff
    * against the stored rows — admissions upsert, displaced members
    * tombstone. `trim` must be a deterministic pure function of the row
    * SET (both callers' trims are — that is the whole design), which is
    * what makes the table equal the batch operator over everything ever
    * streamed, replays diff-empty, and crashes re-converge.
    *
    * The sample table folds its delta chain STAT-DRIVEN
    * ([[graft.sources.Store.compactIfNeeded]], r17 — a partition folds
    * at `compactEvery` generations; ADVICE r15: early in a stream
    * nearly every trigger commits an upsert and/or delete generation,
    * and the sink re-reads the table every trigger — the fold is cheap,
    * the table is sample-sized).
    */
  private def reservoirIncremental(
      docs: DataFrame, idCol: String, sampleTable: String,
      trim: DataFrame => DataFrame,
      checkpointLocation: Option[String],
      buckets: Int, parts: Int, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        import graft.sources.Store
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          val exists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(sampleTable))
          val old =
            if (exists)
              Store.read(spark, sampleTable).select(ArraySeq.unsafeWrapArray(b.columns.map(col(_))): _*)
            else b.filter(lit(false))
          val kept = trim(old.unionByName(b).dropDuplicates(idCol))
            // three consumers (both diffs + the write) and the diffs run
            // against the table the writes move — materialize first
            .localCheckpoint()
          if (!exists)
            Store.bulkWrite(kept, sampleTable, idCol,
              buckets = buckets, parts = parts, validateKeys = true)
          else {
            // both diffs put `kept` against its own `old` ancestor — the
            // applyBatch rename rule keeps the anti-join conditions off
            // the shared attribute lineage
            // sample-sized diffs → localized (r17): the anti-joins run
            // once into driver-resident frames, the upsert/delete stats
            // and routing run in-process, and an EMPTY diff no-ops
            // inside the store call without a job — so the explicit
            // isEmpty probes retired with the localCheckpoints
            val oldIds = Store.localized(old.select(col(idCol).as("__res_old")))
            val added = Store.localized(kept
              .join(oldIds, col(idCol) === col("__res_old"), "left_anti"))
            Store.upsert(spark, sampleTable, added, idCol, buckets)
            // the evicted diff runs even when nothing was admitted: a
            // crash between a previous trigger's upsert and delete leaves
            // an over-quota reservoir whose replay has added == ∅ but a
            // REAL eviction set — skipping it would never converge the
            // stored state
            val evicted = Store.localized(oldIds
              .join(kept.select(col(idCol).as("__res_new")),
                col("__res_old") === col("__res_new"), "left_anti")
              .select(col("__res_old").as(idCol)))
            Store.delete(spark, sampleTable, evicted, idCol, buckets)
          }
          if (compactEvery > 0 && graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(sampleTable))) {
            // stat-driven fold threshold (r17): see Store.compactIfNeeded
            Store.compactIfNeeded(spark, sampleTable, compactEvery)
            ()
          }
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** The reservoir's read side: re-trim to quota so a crash between the
    * sink's upsert and delete (a transiently over-quota stratum) is
    * invisible to readers — idempotent over a converged table.
    */
  def readStratifiedSample(
      spark: org.apache.spark.sql.SparkSession, sampleTable: String,
      idCol: String, labelCol: String,
      counts: Map[String, Long], defaultCount: Long = 0L,
      seed: String = "graft-strat-exact"): DataFrame =
    graft.ops.Training.stratifiedExact(
      graft.sources.Store.read(spark, sampleTable),
      idCol, labelCol, counts, defaultCount, seed)

  /** [[readStratifiedSample]]'s weighted twin. */
  def readWeightedSample(
      spark: org.apache.spark.sql.SparkSession, sampleTable: String,
      idCol: String, weightCol: String, n: Int,
      seed: String = "graft-es"): DataFrame =
    graft.ops.Training.weightedSample(
      graft.sources.Store.read(spark, sampleTable), idCol, weightCol, n, seed)

  /** STREAMING corpus novelty — [[exactDedupIncremental]]'s machinery
    * applied to [[graft.ops.Training.noveltyScoreIncremental]], completing
    * the batch (q125) / incremental (q126) / streaming triad: each
    * micro-batch is scored against the PERSISTED first-occurrence index
    * ([[graft.sources.Store]] table keyed on shingle), per-batch scores
    * land exactly-once in `scoresOut/batch=<id>` (own-partition
    * overwrite), and the index advances by inserting ONLY shingles it has
    * never seen, with the batch-local min id (an index hit never
    * rewrites — first arrival wins).
    *
    * A doc's novel shingles are therefore those whose (arrival-batch,
    * id)-lexicographic first occurrence is this doc — the same closed
    * form as the dedup twin's keeper rule, which is what the q128 gate
    * replays in SQL. Per-batch cost is O(batch shingles) + one index
    * probe; history is never rescanned.
    *
    * The probe is PARTITION-PRUNED (r16): the shingle index is the
    * largest of the streaming index tables (one row per distinct corpus
    * shingle), and each trigger reads only the batch shingles' routing
    * partitions ([[graft.sources.Store.probe]], `parts` = 32 so pruning
    * has room) — bytes-read invariance pinned in StreamIndexPruneSpec.
    * The index folds its delta chain STAT-DRIVEN at `compactEvery`
    * generations per partition ([[graft.sources.Store.compactIfNeeded]],
    * r17).
    */
  def noveltyIncremental(
      docs: DataFrame, idCol: String, textCol: String,
      indexTable: String, scoresOut: String,
      checkpointLocation: Option[String] = None,
      w: Int = 3, buckets: Int = 4, parts: Int = 32, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // one source scan per trigger (see exactDedupIncremental) —
        // localCheckpoint: the batch carries document TEXT, and payloads
        // never collect driver-side (r18, ADVICE r17 medium)
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          val exists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(indexTable))
          // shingles built once, shared by the probe, scoring, and the
          // index advance (persisted, not localized: a batch's distinct
          // shingle set can far exceed the local row cap)
          val sh = graft.ops.Dedup.wordShingles(b, idCol, textCol, w).persist()
          // probe, not read: only the batch shingles' partitions; the
          // pruned read feeds TWO consumers (the score join and the
          // insert anti-join) — localized (r17, was localCheckpoint) so
          // it materializes once and the insert diff's driver-side path
          // stays open
          val old =
            if (exists)
              graft.sources.Store.localized(
                graft.sources.Store.probe(spark, indexTable, sh, "shingle"))
            else b.select(
              lit("").as("shingle"), col(idCol).as("first_id")).filter(lit(false))
          val newFirst = sh.groupBy(col("shingle")).agg(min(col(idCol)).as("__new_first"))
          // ARRIVAL order, not id order: a stored entry arrived in an
          // earlier batch and wins even over a smaller new id (coalesce) —
          // where the batch-incremental q126 route takes min(stored, new)
          // to equal a corpus-wide recompute by id
          val scores = sh.join(newFirst, "shingle")
            .join(old.select(col("shingle"), col("first_id").as("__old_first")),
              Seq("shingle"), "left")
            .withColumn("__first", coalesce(col("__old_first"), col("__new_first")))
            .groupBy(col(idCol))
            .agg(
              count(lit(1)).as("n_shingles"),
              sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"),
              round(
                sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).cast("double") /
                  count(lit(1)).cast("double"), 4).as("novelty"))
          try {
            scores.write.mode("overwrite").parquet(s"$scoresOut/batch=$batchId")
            // shingle-bounded → localized (r17): under the cap the
            // upsert's stats and routing run driver-side
            val inserts = graft.sources.Store.localized(
              newFirst.select(col("shingle"), col("__new_first").as("first_id"))
                .join(old.select(col("shingle")), Seq("shingle"), "left_anti"))
            if (exists)
              graft.sources.Store.upsert(spark, indexTable, inserts, "shingle", buckets)
            else
              graft.sources.Store.bulkWrite(inserts, indexTable, "shingle",
                buckets = buckets, parts = parts)
            if (compactEvery > 0 && graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(indexTable))) {
              // stat-driven (r17): a partition folds when its own delta
              // chain reaches compactEvery generations (Store.compactIfNeeded)
              graft.sources.Store.compactIfNeeded(spark, indexTable, compactEvery)
              ()
            }
          } finally sh.unpersist()
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING C4-style span dedup — [[graft.ops.Dedup.spanDedup]]'s
    * streaming form, completing its triad leg the way q109/q128 did for
    * exact dedup and novelty: each micro-batch chunks SCAN-LOCAL (native
    * `word_chunks`), labels its chunks against the PERSISTED digest
    * index (digest → first (doc, position)), rebuilds its documents from
    * surviving chunks, writes them exactly-once to `outDir/batch=<id>`
    * (own-partition overwrite), and advances the index by inserting ONLY
    * never-seen digests with the batch-local (doc, position) minimum —
    * an index hit never rewrites (first ARRIVAL wins).
    *
    * A chunk therefore survives at its (arrival-batch, doc, position)-
    * lexicographic first occurrence — the q109 keeper rule applied to
    * spans, which is exactly the closed form the q172 gate replays in
    * SQL. Per-batch cost is O(batch chunks) + one digest-keyed index
    * probe; history is never rescanned.
    *
    * The probe is PARTITION-PRUNED (r16): each trigger reads only the
    * batch digests' routing partitions ([[graft.sources.Store.probe]],
    * `parts` = 32 so pruning has room) — bytes-read invariance pinned
    * in StreamIndexPruneSpec. The index folds its delta chain
    * STAT-DRIVEN at `compactEvery` generations per partition
    * ([[graft.sources.Store.compactIfNeeded]], r17).
    */
  def spanDedupIncremental(
      docs: DataFrame, idCol: String, textCol: String,
      indexTable: String, outDir: String, w: Int = 5,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 32, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // one source scan per trigger (see exactDedupIncremental) —
        // localCheckpoint: the batch carries document TEXT, and payloads
        // never collect driver-side (r18, ADVICE r17 medium)
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          val chunks = b.filter(col(textCol).isNotNull)
            .select(col(idCol),
              posexplode(graft.functions.WordChunksExpr.word_chunks(col(textCol), lit(w)))
                .as(Seq("__ck", "__chunk")))
            .withColumn("__h", md5(col("__chunk")))
            .persist()
          try {
            val exists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(indexTable))
            // probe, not read: only the batch digests' partitions; two
            // consumers (the survive join and the insert anti-join) —
            // localized (r17, was localCheckpoint) so the pruned read
            // materializes once per trigger
            val old =
              if (exists)
                graft.sources.Store.localized(
                  graft.sources.Store.probe(spark, indexTable, chunks, "__h"))
              else chunks.select(col("__h"),
                col(idCol).as("first_id"), col("__ck").as("first_ck")).filter(lit(false))
            val newFirst = chunks.groupBy(col("__h"))
              .agg(min(struct(col(idCol).as("__fid"), col("__ck").as("__fck"))).as("__nf"))
            // survive = (digest unseen in ANY earlier batch AND this (id,
            // pos) is the batch-local first) OR the index already names
            // THIS (id, pos) as the digest's owner. The second arm is the
            // replay guard: foreachBatch is at-least-once, and a batch
            // replayed AFTER its index upsert committed finds its own
            // digests "seen" — without owner-matching, every chunk would
            // read as a duplicate and the replay would overwrite the
            // batch's output with empty documents (the
            // incrementalExactKeepers keeper-id rule, applied to spans).
            val kept = chunks
              .join(old.select(col("__h"),
                col("first_id").as("__oid"), col("first_ck").as("__ock")), Seq("__h"), "left")
              .join(newFirst, "__h")
              .filter(
                (col("__oid").isNull &&
                  col("__nf.__fid") === col(idCol) && col("__nf.__fck") === col("__ck")) ||
                (col("__oid") === col(idCol) && col("__ock") === col("__ck")))
            val rebuilt = kept.groupBy(col(idCol))
              .agg(
                array_join(
                  transform(
                    array_sort(collect_list(struct(col("__ck"), col("__chunk")))),
                    x => x.getField("__chunk")),
                  " ").as("clean_text"),
                count(lit(1)).as("n_kept"))
            val out = chunks.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
              .join(rebuilt, Seq(idCol), "left")
              .select(col(idCol),
                coalesce(col("clean_text"), lit("")).as("clean_text"),
                col("n_chunks"),
                coalesce(col("n_kept"), lit(0L)).as("n_kept"))
            out.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
            // digest-bounded → localized (r17), same as the novelty leg
            val inserts = graft.sources.Store.localized(newFirst
              .join(old.select(col("__h")), Seq("__h"), "left_anti")
              .select(col("__h"),
                col("__nf.__fid").as("first_id"), col("__nf.__fck").as("first_ck")))
            if (exists)
              graft.sources.Store.upsert(spark, indexTable, inserts, "__h", buckets)
            else
              graft.sources.Store.bulkWrite(inserts, indexTable, "__h",
                buckets = buckets, parts = parts)
            if (compactEvery > 0 && graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(indexTable))) {
              // stat-driven (r17): a partition folds when its own delta
              // chain reaches compactEvery generations (Store.compactIfNeeded)
              graft.sources.Store.compactIfNeeded(spark, indexTable, compactEvery)
              ()
            }
          } finally chunks.unpersist()
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** STREAMING DISTINCT-COUNT over a persisted mergeable HLL sketch
    * (r17) — the "how many distinct tokens/users/urls has this stream
    * ever carried" primitive at 100 TB: exact distinct needs a
    * corpus-wide shuffle (and state linear in the distinct count);
    * the DataSketches HLL sketch behind Spark's `hll_sketch_agg` is a
    * few KB at lgK=12 for ~1.6% relative error, and its union is
    * REGISTER-WISE MAX — associative, commutative, idempotent — so
    * every batch (executor, day, site) sketches independently and the
    * union answers for the whole history. State here is ONE sketch row
    * in a [[graft.sources.Store]] table, O(2^lgK) bytes forever, never
    * the corpus.
    *
    * Per trigger: the batch's values sketch map-side into one binary
    * (`hll_sketch_agg` — a partial-aggregate plan, no shuffle of
    * values, just sketch merge), the stored sketch unions in via the
    * same engine aggregate over a driver-local two-row frame, and the
    * result upserts through the LOCAL-frame fast path. Union
    * idempotence gives the replay contract at the VALUE level: a
    * replayed batch's sketch max-merges into registers that already
    * absorbed it, so the stored state and its estimate cannot move
    * (EventStreamSpec pins estimate stability under duplicate
    * re-delivery; the q210 gate pins it on the real corpus). The
    * write itself is skipped only when the merged bytes come back
    * identical — a best-effort dedup, not a contract: a union
    * result's serialization carries estimator bookkeeping (HIP
    * accumulator, out-of-order flag) that legitimately moves even
    * when no register does, and gating the write on the rounded
    * estimate instead would silently DROP a small real increment. An
    * equivalent re-write is harmless (newest-wins on the single key);
    * `compactEvery` folds the 1-row table's delta chain on the
    * standard cadence. Estimate parity against a one-shot or
    * differently-nested union is NOT a contract either — DataSketches
    * serves direct-built sketches from the HIP estimator and unions
    * from the composite one, and coupon→dense mode transitions differ
    * by nesting, all inside the error bound.
    *
    * `toValues` shapes a batch to one value per row (e.g. exploded
    * tokens) — the same caller-supplied-transform contract as
    * [[reservoirIncremental]]'s trim.
    */
  def distinctSketchIncremental(
      docs: DataFrame, toValues: DataFrame => DataFrame,
      sketchTable: String, lgK: Int = 12,
      checkpointLocation: Option[String] = None,
      buckets: Int = 1, parts: Int = 1, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        import graft.sources.Store
        import spark.implicits._
        // ONE action consumes the batch (the aggregate) — no checkpoint
        // needed; an empty batch aggregates to a null sketch and skips
        val skRow = toValues(batch.toDF())
          .agg(hll_sketch_agg(col("value"), lit(lgK)).as("sketch"))
          .head()
        // an all-null batch aggregates to an EMPTY sketch, not a null
        // one — both add nothing, both skip
        val batchEmpty = skRow.isNullAt(0) ||
          Seq(Tuple1(skRow.getAs[Array[Byte]]("sketch"))).toDF("sketch")
            .select(hll_sketch_estimate(col("sketch"))).head().getLong(0) == 0L
        if (!batchEmpty) {
          val batchSketch = skRow.getAs[Array[Byte]]("sketch")
          val exists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(sketchTable))
          val stored: Option[Array[Byte]] =
            if (exists)
              Store.read(spark, sketchTable).select(col("sketch"))
                .collect().headOption.map(_.getAs[Array[Byte]](0))
            else None
          val merged = stored match {
            case None => batchSketch
            case Some(s) =>
              // engine-native union over a driver-local frame — same
              // DataSketches semantics as the distributed aggregate,
              // zero shuffle
              Seq(Tuple1(s), Tuple1(batchSketch)).toDF("sketch")
                .agg(hll_union_agg(col("sketch"), lit(false)).as("u"))
                .head().getAs[Array[Byte]]("u")
          }
          // best-effort write dedup (see the scaladoc: byte equality
          // only — never the rounded estimate)
          if (!stored.exists(java.util.Arrays.equals(_, merged))) {
            val up = Seq(("corpus", merged)).toDF("scope", "sketch")
            if (exists) Store.upsert(spark, sketchTable, up, "scope", buckets)
            else Store.bulkWrite(up, sketchTable, "scope",
              buckets = buckets, parts = parts, validateKeys = true)
            if (compactEvery > 0 && graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(sketchTable))) {
              // stat-driven fold threshold (r17): see Store.compactIfNeeded
              Store.compactIfNeeded(spark, sketchTable, compactEvery)
              ()
            }
          }
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** The sketch's serving read: the maintained estimate of distinct
    * values ever streamed (±~1.6% at the default lgK=12), answered from
    * O(2^lgK) bytes — no corpus scan exists in this code path.
    */
  def readDistinctSketch(
      spark: org.apache.spark.sql.SparkSession, sketchTable: String): Long =
    graft.sources.Store.read(spark, sketchTable)
      .select(hll_sketch_estimate(col("sketch")).as("est"))
      .head().getLong(0)

  /** The guarded sketch sinks' shared failure for batch ids behind the
    * stored guard: a fresh checkpoint replaying against existing state.
    */
  private[streaming] def idRegression(
      table: String, stored: Long, batchId: Long): IllegalStateException =
    new IllegalStateException(
      s"$table records last_batch=$stored but batch $batchId arrived: batch " +
        "ids regressed, which only a NEW checkpoint against existing state " +
        "produces — folding would double-count and skipping would silently " +
        "drop every batch of the new stream. Drop/rename the state table " +
        "or resume from the original checkpoint.")

  /** The sketch sinks' shared foreachBatch scaffold: run the applier one
    * batch at a time, fold the state table's delta chain every
    * applied batch by the stat-driven threshold (r17 —
    * [[graft.sources.Store.compactIfNeeded]] at `compactEvery`
    * generations per partition; a skipped replay commits nothing, so it
    * cannot grow a chain either).
    */
  private def guardedSketchSink(
      docs: DataFrame, checkpointLocation: Option[String],
      compactEvery: Int, table: String,
      apply: (DataFrame, Long) => Boolean)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        if (apply(batch.toDF(), batchId) && compactEvery > 0 &&
          graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(table))) {
          // stat-driven fold threshold (r17): see Store.compactIfNeeded
          graft.sources.Store.compactIfNeeded(spark, table, compactEvery)
          ()
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    wr.start()
  }

  /** The single-row guarded sinks' shared skeleton: read the one state
    * row, validate the persisted sketch PARAMS against this sink's
    * (merging sketches built at different k/lgK/eps/seed silently
    * degrades or corrupts state — a restart with changed params must
    * fail loudly, not blend), enforce the replay/regression split on
    * `last_batch`, fold, and commit (scope, sketch, last_batch, params)
    * atomically.
    */
  private def applyGuardedRow(
      spark: org.apache.spark.sql.SparkSession, table: String,
      batchId: Long, params: String, buckets: Int, parts: Int)(
      fold: Option[Array[Byte]] => Array[Byte]): Boolean = {
    import graft.sources.Store
    import spark.implicits._
    val exists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(table))
    val stored: Option[(Array[Byte], Long, String)] =
      if (exists)
        Store.read(spark, table).select(col("sketch"), col("last_batch"), col("params"))
          .collect().headOption
          .map(r => (r.getAs[Array[Byte]](0), r.getLong(1), r.getString(2)))
      else None
    stored.foreach { case (_, _, p) =>
      if (p != params) throw paramMismatch(table, p, params)
    }
    // the ONE legitimate replay is id == last_batch (the engine re-runs
    // only the last possibly-uncommitted batch); an id BEHIND it means a
    // fresh checkpoint is replaying against existing state — folding
    // would double-count and skipping would silently drop every new
    // batch forever, so fail loudly instead (EventStream.idRegression)
    if (stored.exists(_._2 == batchId)) false
    else if (stored.exists(_._2 > batchId))
      throw idRegression(table, stored.get._2, batchId)
    else {
      val merged = fold(stored.map(_._1))
      val up = Seq(("corpus", merged, batchId, params))
        .toDF("scope", "sketch", "last_batch", "params")
      if (exists) Store.upsert(spark, table, up, "scope", buckets)
      else Store.bulkWrite(up, table, "scope",
        buckets = buckets, parts = parts, validateKeys = true)
      true
    }
  }

  private[streaming] def paramMismatch(
      table: String, storedP: String, thisP: String): IllegalStateException =
    new IllegalStateException(
      s"$table was built with sketch params [$storedP] but this sink runs " +
        s"[$thisP]: merging heterogeneous sketches silently degrades the " +
        "maintained state (the smaller accuracy wins, or cells misalign). " +
        "Drop/rename the state table or match the original params.")

  /** One micro-batch of the streaming QUANTILE sketch
    * ([[quantileSketchIncremental]]); factored out so the gate can
    * re-invoke it with an already-applied batch id and assert the stored
    * bytes do not move. Returns true iff the batch was folded in.
    *
    * The replay contract DIFFERS from the HLL sink's by necessity: KLL
    * merge ADDS WEIGHT (each item counts once per merge), so union
    * idempotence — the property the HLL sink leans on — does not exist
    * here. Exactly-once is recovered the transactional-sink way instead:
    * the stored row carries `last_batch`, foreachBatch replays a failed
    * batch WITH THE SAME batch id, and `batchId == last_batch` skips the
    * fold. Batch ids are assigned monotonically by the engine and only
    * the last possibly-uncommitted batch can legitimately re-arrive, so
    * an id BEHIND the guard is a fresh checkpoint replaying against
    * existing state — that fails loudly ([[idRegression]]) instead of
    * silently double-counting or dropping the new stream.
    */
  def applyQuantileBatch(
      batch: DataFrame, toValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long, k: Int = 200,
      buckets: Int = 1, parts: Int = 1): Boolean =
    applyGuardedRow(batch.sparkSession, sketchTable, batchId,
      params = s"kll;k=$k", buckets, parts) { stored =>
      // ONE action consumes the batch: the map-side-partial kll_agg —
      // only O(k·log(n/k)) sketch bytes reach the driver. An all-null/
      // empty batch folds its EMPTY sketch (adds nothing) but still
      // advances the guard, so a replay of the id stays a no-op even
      // when it was the table-creating batch
      val batchSketch = toValue(batch)
        .agg(org.apache.spark.sql.functions.call_function(
          "kll_agg", col("value").cast("double"), lit(k)).as("sketch"))
        .head().getAs[Array[Byte]]("sketch")
      stored match {
        case None    => batchSketch
        case Some(s) => graft.functions.SketchAggs.kllMerge(s, batchSketch)
      }
    }

  /** STREAMING QUANTILES over persisted mergeable KLL state — the
    * distribution sibling of [[distinctSketchIncremental]]: per trigger
    * the batch's values fold into ONE stored KLL sketch row
    * (O(k·log(n/k)) bytes forever, never the corpus), and
    * [[readQuantileSketch]] answers p50/p99-style rank queries from that
    * row alone. What the HLL row cannot answer (a distribution), kept
    * maintainable by the same mergeability argument — KLL merge is
    * associative, so per-executor/per-day sketches union to the global
    * one. Replay safety comes from the `last_batch` guard (see
    * [[applyQuantileBatch]] — KLL merge is NOT idempotent, so the guard
    * is the contract, not union algebra). `toValue` shapes a batch to a
    * `value` column; `compactEvery` folds the 1-row table's delta chain
    * on the stat-driven threshold (r17).
    */
  def quantileSketchIncremental(
      docs: DataFrame, toValue: DataFrame => DataFrame,
      sketchTable: String, k: Int = 200,
      checkpointLocation: Option[String] = None,
      buckets: Int = 1, parts: Int = 1, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, sketchTable,
      (b, id) => applyQuantileBatch(b, toValue, sketchTable, id, k, buckets, parts))

  /** The quantile sketch's serving read: (q, estimate) rows for the
    * requested ranks plus the exact absorbed count, answered from the one
    * stored row — no corpus scan exists in this code path.
    */
  def readQuantileSketch(
      spark: org.apache.spark.sql.SparkSession, sketchTable: String,
      qs: Seq[Double]): (Seq[(Double, Double)], Long) = {
    val bytes = graft.sources.Store.read(spark, sketchTable)
      .select(col("sketch")).head().getAs[Array[Byte]](0)
    (qs.map(q => q -> graft.functions.SketchAggs.kllQuantile(bytes, q)),
      graft.functions.SketchAggs.kllN(bytes))
  }

  /** One micro-batch of the DURABLE streaming count-min sketch
    * ([[cmsSketchIncremental]]); factored out so the gate can re-invoke
    * it with an absorbed batch id and pin the stored bytes unmoved.
    *
    * CMS merge is cellwise ADDITION — the KLL class of replay hazard
    * (re-merging an absorbed batch double-counts), so exactly-once is
    * the same `last_batch` guard as [[applyQuantileBatch]]. This is the
    * durability upgrade [[heavyHittersIncremental]] deliberately skips
    * (its scaladoc holds the sketch for one run and leans on the exact
    * keyed table): here the SKETCH ITSELF is the durable object —
    * O(ε⁻¹·ln δ⁻¹) bytes of state answering per-key frequency upper
    * bounds at any corpus size, surviving restarts, replay-safe.
    */
  def applyCmsBatch(
      batch: DataFrame, toValues: DataFrame => DataFrame,
      cmsTable: String, batchId: Long,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42,
      buckets: Int = 1, parts: Int = 1): Boolean =
    applyGuardedRow(batch.sparkSession, cmsTable, batchId,
      params = s"cms;eps=$eps;conf=$confidence;seed=$seed", buckets, parts) { stored =>
      // ONE action consumes the batch: the sketch aggregation (hash
      // cells sum map-side; only the table-sized array reaches the
      // driver, its size fixed by (eps, confidence), not the batch).
      // An empty batch folds an all-zero sketch — adds nothing, still
      // advances the guard (see applyQuantileBatch)
      val batchCms = toValues(batch).filter(col("value").isNotNull)
        .stat.countMinSketch(col("value"), eps, confidence, seed)
      val merged = stored match {
        case None => batchCms
        case Some(b) =>
          val m = org.apache.spark.util.sketch.CountMinSketch.readFrom(b)
          m.mergeInPlace(batchCms)
          m
      }
      graft.functions.CmsExprs.serialize(merged)
    }

  /** DURABLE streaming count-min sketch — the frequency leg of the
    * persisted-sketch family (HLL counts distinct, KLL distributes,
    * theta set-algebras, CMS answers per-key frequency upper bounds):
    * per trigger the batch's value frequencies fold into ONE stored CMS
    * row (cellwise add — every executor/batch/day can sketch
    * independently at 100 TB and the union still answers within ε·N).
    * Replay-guarded on `last_batch` (addition is the KLL hazard class);
    * `compactEvery` folds the 1-row chain. Serve with
    * [[readCmsEstimates]] or the native `cms_estimate` probe.
    */
  def cmsSketchIncremental(
      docs: DataFrame, toValues: DataFrame => DataFrame,
      cmsTable: String,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42,
      checkpointLocation: Option[String] = None,
      buckets: Int = 1, parts: Int = 1, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, cmsTable,
      (b, id) => applyCmsBatch(b, toValues, cmsTable, id,
        eps, confidence, seed, buckets, parts))

  /** The durable CMS's serving read: frequency upper-bound estimates for
    * a probe frame's `value` column via the native `cms_estimate`
    * expression over the stored payload — per-row probes stay codegen'd,
    * the sketch rides along as a literal.
    */
  def readCmsEstimates(
      spark: org.apache.spark.sql.SparkSession, cmsTable: String,
      probes: DataFrame): DataFrame = {
    val bytes = graft.sources.Store.read(spark, cmsTable)
      .select(col("sketch")).head().getAs[Array[Byte]](0)
    probes.withColumn("est",
      graft.functions.CmsExprs.cms_estimate(col("value"), bytes))
  }

  /** STREAMING DISTINCT-SET state over a persisted theta sketch — the
    * set-algebra sibling of [[distinctSketchIncremental]]: same one-row
    * O(2^lgK) state, but the maintained object supports INTERSECTION and
    * DIFFERENCE against any other theta sketch at read time
    * ([[readThetaOverlap]]) — the live-decontamination shape: stream the
    * corpus, keep a sketch of every token/shingle ever seen, and answer
    * "how much does the stream overlap benchmark X?" from two kilobyte
    * payloads, no corpus scan.
    *
    * The replay contract here is the STRONGEST of the three sketch
    * sinks: a theta compact sketch is a pure function of the distinct
    * input set, and union is idempotent — so a re-delivered batch's
    * union produces BYTE-IDENTICAL state and the write is skipped
    * exactly (not best-effort like HLL, whose estimator bookkeeping
    * moves under re-union; not guard-dependent like KLL, whose merge
    * adds weight). `compactEvery` folds the 1-row table's delta chain on
    * the standard cadence.
    */
  def thetaSketchIncremental(
      docs: DataFrame, toValues: DataFrame => DataFrame,
      sketchTable: String, lgK: Int = 12,
      checkpointLocation: Option[String] = None,
      buckets: Int = 1, parts: Int = 1, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, sketchTable,
      (b, _) => applyThetaBatch(b, toValues, sketchTable, lgK, buckets, parts))

  /** One micro-batch of the streaming theta set state
    * ([[thetaSketchIncremental]]); factored out so callers can probe the
    * replay contract with one direct call. No batch-id guard exists here
    * BY DESIGN: theta bytes are a pure function of the distinct set and
    * union is idempotent, so the byte-equality dedup IS the exactly-once
    * mechanism. Only the sketch params are validated (a changed lgK
    * would silently trim the stored retained set).
    */
  def applyThetaBatch(
      batch: DataFrame, toValues: DataFrame => DataFrame,
      sketchTable: String, lgK: Int = 12,
      buckets: Int = 1, parts: Int = 1): Boolean = {
    val spark = batch.sparkSession
    import graft.sources.Store
    import spark.implicits._
    import graft.functions.SketchAggs
    val params = s"theta;lgK=$lgK"
    // ONE action consumes the batch: the map-side-partial theta_agg
    val batchSketch = toValues(batch)
      .agg(org.apache.spark.sql.functions.call_function(
        "theta_agg", col("value"), lit(lgK)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    // an empty/all-null batch builds an empty sketch: unioning it is
    // a no-op, and the byte-dedup below skips the write
    val exists = graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(sketchTable))
    val stored: Option[(Array[Byte], String)] =
      if (exists)
        Store.read(spark, sketchTable).select(col("sketch"), col("params"))
          .collect().headOption.map(r => (r.getAs[Array[Byte]](0), r.getString(1)))
      else None
    stored.foreach { case (_, p) =>
      if (p != params) throw paramMismatch(sketchTable, p, params)
    }
    val merged = stored match {
      case None         => batchSketch
      case Some((b, _)) => SketchAggs.thetaUnion(b, batchSketch, lgK)
    }
    // EXACT write dedup (see scaladoc): theta bytes are a pure
    // function of the set, so byte equality == "this batch added no
    // new distinct value" — replays and no-op batches commit nothing
    if (!stored.exists(p => java.util.Arrays.equals(p._1, merged)) &&
      SketchAggs.thetaEstimate(merged) > 0.0) {
      val up = Seq(("corpus", merged, params)).toDF("scope", "sketch", "params")
      if (exists) Store.upsert(spark, sketchTable, up, "scope", buckets)
      else Store.bulkWrite(up, sketchTable, "scope",
        buckets = buckets, parts = parts, validateKeys = true)
      true
    } else false
  }

  /** The theta state's serving read: (stream-distinct estimate, overlap
    * with `refSketch`, stream-only difference) — set algebra against any
    * reference sketch from the one stored row.
    */
  def readThetaOverlap(
      spark: org.apache.spark.sql.SparkSession, sketchTable: String,
      refSketch: Array[Byte]): (Double, Double, Double) = {
    import graft.functions.SketchAggs
    val bytes = graft.sources.Store.read(spark, sketchTable)
      .select(col("sketch")).head().getAs[Array[Byte]](0)
    (SketchAggs.thetaEstimate(bytes),
      SketchAggs.thetaIntersectEstimate(bytes, refSketch),
      SketchAggs.thetaAnotBEstimate(bytes, refSketch))
  }

  /** One micro-batch of the PER-KEY streaming quantile sketch
    * ([[groupedQuantileSketchIncremental]]). Unlike the single-row
    * applier ([[applyQuantileBatch]]) nothing here is driver-merged: the
    * batch's per-key partials build map-side (`kll_agg`), the touched
    * keys' stored rows read PARTITION-PRUNED (`Store.probe` — min(|keys|,
    * parts) dirs, independent of how many keys the table has
    * accumulated), and stored∪batch fold per key with `kll_merge_agg` —
    * the rollup aggregate — so per-trigger cost is O(batch keys) at any
    * corpus size and the state table is O(distinct keys ever seen).
    *
    * Replay guard, per-key form of the `last_batch` contract: the upsert
    * commits all touched keys atomically (one CAS manifest swap), so a
    * replayed batch finds EVERY touched key at `last_batch >= batchId`
    * and one existence probe on the pruned read decides the skip — KLL
    * merge adds weight, so this structural no-op IS the exactly-once
    * mechanism (batch ids are engine-monotone; a replay is always of the
    * last uncommitted id, never of one behind a committed successor).
    */
  /** The grouped sketch sinks' reserved guard key — data keys must
    * never equal it (the applier filters it defensively, and every
    * reader excludes it).
    */
  val GroupGuardKey: String = "\u0000__guard__\u0000"

  /** The grouped sketch appliers' SHARED skeleton (r17 — the q216
    * guard-row + probe pattern, factored so the KLL, HLL, and CMS sinks
    * are one mechanism with three algebras): one pass over the batch
    * rows builds per-key map-side-partial sketches (`batchAgg`, bounded
    * by the batch's distinct keys), the touched keys' stored rows read
    * PARTITION-PRUNED (`Store.probe` — min(|keys|, parts) dirs,
    * independent of how many keys the table has accumulated), and
    * stored∪batch fold per key with `mergeAgg` — so per-trigger cost is
    * O(batch keys) at any corpus size and the state table is O(distinct
    * keys ever seen).
    *
    * The replay/regression GUARD is GLOBAL (a fresh-checkpoint batch
    * touching only never-stored keys would otherwise see no stored rows
    * and silently fold into frozen state) and rides the MANIFEST META
    * (r19 — [[MetaLastBatch]]/[[MetaParams]]): the watermark commits in
    * the same CAS rename as the data generations, so guard and data
    * stay atomic exactly as the r17 guard-ROW form's single upsert did,
    * while a refused replay reads zero table bytes and an empty trigger
    * stages zero generations. The meta also carries the persisted
    * sketch `params`, so a restart at different accuracy fails loudly
    * instead of blending ([[paramMismatch]]).
    */
  /** One sketch FAMILY maintained by the grouped skeleton: the state
    * column it owns, its per-batch partial aggregate, and its
    * stored-union merge aggregate (referencing `col(name)`).
    * [[applyGroupedSketchBatch]] takes a Seq of these — one for the
    * single-family sinks, several for the one-pass multi-sketch sink
    * (r18, VERDICT r17 next #3), which maintains several families per
    * key under ONE probe, ONE merge pass, and ONE watermark commit.
    */
  final case class SketchAlgebra(
      name: String,
      batchAgg: org.apache.spark.sql.Column,
      mergeAgg: org.apache.spark.sql.Column)

  /** Meta keys of the grouped sinks' replay watermark (r19 — VERDICT r18
    * next #3): `last_batch` and `params` ride the MANIFEST's metadata
    * lines ([[graft.sources.Store.commitMetaOnly]]), committed in the
    * same CAS rename as the data generations — the guard-and-data
    * atomicity the reserved guard ROW used to provide, minus the guard
    * row: an empty trigger advances the watermark with a metadata-only
    * manifest version (ZERO generation files, zero Spark jobs), and a
    * refused replay decides from one driver-side file read (zero table
    * bytes) instead of probing the guard partition.
    */
  private[streaming] val MetaLastBatch = "sketch.last_batch"
  private[streaming] val MetaParams = "sketch.params"

  private def applyGroupedSketchBatch(
      batch: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long, params: String,
      algebras: Seq[SketchAlgebra],
      buckets: Int, parts: Int): Boolean = {
    val spark = batch.sparkSession
    import graft.sources.Store
    val skNames = algebras.map(_.name)
    val batchSk = Store.localized(
      toKeyValue(batch)
        .filter(col("key").isNotNull && col("key") =!= GroupGuardKey)
        .groupBy(col("key"))
        .agg(algebras.head.batchAgg.as(algebras.head.name),
          algebras.tail.map(a => a.batchAgg.as(a.name)): _*))
    val watermark = Map(MetaLastBatch -> batchId.toString, MetaParams -> params)
    if (!graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(sketchTable))) {
      Store.bulkWrite(
        batchSk.withColumn("last_batch", lit(batchId))
          .withColumn("params", lit(params)),
        sketchTable, "key", buckets = buckets, parts = parts,
        validateKeys = true, meta = watermark)
      true
    } else {
      // replay/regression decision from the manifest meta alone — a
      // driver-side file read; legacy tables (guard-row era, no meta)
      // fall back to probing their guard row once, and their first
      // commit under this code writes the meta forward
      val meta = graft.tools.DriverProf.time("es.sketchMeta")(
        Store.manifestMeta(spark, sketchTable))
      val (storedParams, guardLast) = meta.get(MetaLastBatch) match {
        case Some(lb) => (meta.get(MetaParams), Some(lb.toLong))
        case None =>
          import spark.implicits._
          val g = Store.probe(spark, sketchTable,
              Seq(GroupGuardKey).toDF("key"), "key")
            .filter(col("key") === GroupGuardKey)
            .select(col("last_batch"), col("params"))
            .collect().headOption
          (g.map(_.getAs[String]("params")), g.map(_.getAs[Long]("last_batch")))
      }
      storedParams.foreach { p =>
        if (p != params) throw paramMismatch(sketchTable, p, params)
      }
      if (guardLast.contains(batchId))
        false // replayed batch: its atomic commit already landed
      else if (guardLast.exists(_ > batchId))
        throw idRegression(sketchTable, guardLast.get, batchId)
      else if (batchSk.isEmpty) {
        // EMPTY batch: advance the watermark meta-only — zero staged
        // generations, zero Spark jobs (the r18 guard-row form staged one
        // guard generation per empty trigger, forever, on a quiet stream)
        Store.commitMetaOnly(spark, sketchTable, watermark)
        true
      } else {
        // the probe has exactly ONE consumer (the merge below), so it
        // needs no materialization of its own — fusing it into the
        // merged frame's collect runs probe + union + merge as ONE job
        // per trigger instead of two (r20, VERDICT r19 #5 collect fusion)
        val stored = Store.probe(spark, sketchTable, batchSk.select(col("key")), "key")
          .filter(col("key") =!= GroupGuardKey) // legacy guard rows stay inert
          .select(col("key") +: skNames.map(col): _*)
        val merged = stored
          .unionByName(batchSk)
          .groupBy(col("key"))
          .agg(algebras.head.mergeAgg.as(algebras.head.name),
            algebras.tail.map(a => a.mergeAgg.as(a.name)): _*)
          .withColumn("last_batch", lit(batchId))
          .withColumn("params", lit(params))
        // an empty batch stages nothing and the upsert commits the
        // watermark meta-only — the zero-generation empty-trigger path
        Store.upsert(spark, sketchTable, Store.localized(merged), "key",
          buckets, metaUpdates = watermark)
        true
      }
    }
  }

  private def applyGroupedSketchBatch(
      batch: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long, params: String,
      batchAgg: org.apache.spark.sql.Column,
      mergeAgg: org.apache.spark.sql.Column,
      buckets: Int, parts: Int): Boolean =
    applyGroupedSketchBatch(batch, toKeyValue, sketchTable, batchId, params,
      Seq(SketchAlgebra("sk", batchAgg, mergeAgg)),
      buckets, parts)


  def applyGroupedQuantileBatch(
      batch: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long, k: Int = 200,
      buckets: Int = 4, parts: Int = 8): Boolean =
    applyGroupedSketchBatch(batch, toKeyValue, sketchTable, batchId,
      params = s"kll;k=$k",
      batchAgg = org.apache.spark.sql.functions.call_function(
        "kll_agg", col("value").cast("double"), lit(k)),
      mergeAgg = org.apache.spark.sql.functions.call_function(
        "kll_merge_agg", col("sk"), lit(k)),
      buckets = buckets, parts = parts)

  /** One micro-batch of the PER-KEY streaming DISTINCT sketch
    * ([[groupedDistinctSketchIncremental]]): per-source HLL rows under
    * the [[applyGroupedSketchBatch]] skeleton. HLL union is register-wise
    * max — idempotent — so the guard here is belt-and-braces (a replayed
    * fold could not move any register), but it still buys the exact skip,
    * the params check, and the regression failure for free.
    */
  def applyGroupedDistinctBatch(
      batch: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long, lgK: Int = 12,
      buckets: Int = 4, parts: Int = 8): Boolean =
    applyGroupedSketchBatch(batch, toKeyValue, sketchTable, batchId,
      params = s"hll;lgK=$lgK",
      batchAgg = hll_sketch_agg(col("value"), lit(lgK)),
      // strict union: a stored row built at a different lgK must fail
      // the params guard first, and the union's own check backstops it
      mergeAgg = hll_union_agg(col("sk"), lit(false)),
      buckets = buckets, parts = parts)

  /** One micro-batch of the PER-KEY streaming FREQUENCY sketch
    * ([[groupedCmsSketchIncremental]]): per-source CMS rows under the
    * [[applyGroupedSketchBatch]] skeleton. CMS merge is cellwise
    * ADDITION — the KLL replay-hazard class — so here the guard row IS
    * the exactly-once mechanism, per-key atomic under the one CAS
    * manifest swap.
    */
  def applyGroupedCmsBatch(
      batch: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42,
      buckets: Int = 4, parts: Int = 8): Boolean =
    applyGroupedSketchBatch(batch, toKeyValue, sketchTable, batchId,
      params = s"cms;eps=$eps;conf=$confidence;seed=$seed",
      batchAgg = count_min_sketch(
        col("value"), lit(eps), lit(confidence), lit(seed)),
      mergeAgg = org.apache.spark.sql.functions.call_function(
        "cms_merge_agg", col("sk")),
      buckets = buckets, parts = parts)

  /** PER-KEY streaming quantiles — [[quantileSketchIncremental]] keyed
    * (the per-language/per-source histogram layer, maintained over an
    * unbounded stream): state is one KLL row per key ever seen, per
    * trigger only the touched keys' rows are read (partition-pruned) and
    * rewritten. See [[applyGroupedQuantileBatch]] for the distributed
    * merge and the atomic per-key replay guard.
    */
  def groupedQuantileSketchIncremental(
      docs: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, k: Int = 200,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 8, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, sketchTable,
      (b, id) => applyGroupedQuantileBatch(b, toKeyValue, sketchTable,
        id, k, buckets, parts))

  /** Per-key serving read: (key, quantile-at-q, absorbed-n) for every
    * key in the state table — a distributed probe over O(keys) rows,
    * never the corpus.
    */
  def readGroupedQuantileSketch(
      spark: org.apache.spark.sql.SparkSession, sketchTable: String,
      q: Double): DataFrame =
    graft.sources.Store.read(spark, sketchTable)
      .filter(col("key") =!= GroupGuardKey)
      .select(col("key"),
        org.apache.spark.sql.functions.call_function(
          "kll_quantile", col("sk"), lit(q)).as("est"),
        org.apache.spark.sql.functions.call_function(
          "kll_n", col("sk")).as("n"))

  /** PER-KEY streaming distinct counts (r17) — the corpus-datasheet
    * question at 100 TB ("how many distinct tokens/users/urls per
    * SOURCE has this stream ever carried"), maintained as one HLL row
    * per key: per trigger the batch's per-key partials build map-side,
    * only the touched keys' rows are read (partition-pruned) and
    * rewritten, and state is O(keys × 2^lgK) bytes forever. See
    * [[applyGroupedDistinctBatch]] for the replay contract.
    */
  def groupedDistinctSketchIncremental(
      docs: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, lgK: Int = 12,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 8, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, sketchTable,
      (b, id) => applyGroupedDistinctBatch(b, toKeyValue, sketchTable,
        id, lgK, buckets, parts))

  /** Per-key serving read: (key, distinct-estimate) for every key in
    * the state table — O(keys) rows, never the corpus.
    */
  def readGroupedDistinctSketch(
      spark: org.apache.spark.sql.SparkSession, sketchTable: String): DataFrame =
    graft.sources.Store.read(spark, sketchTable)
      .filter(col("key") =!= GroupGuardKey)
      .select(col("key"), hll_sketch_estimate(col("sk")).as("est"))

  /** PER-KEY streaming frequency bounds (r17) — per-source CMS rows:
    * "how often does token x occur IN SOURCE s", answered within ε·N(s)
    * from O(keys × ε⁻¹·ln δ⁻¹) bytes of state. Same guard-row
    * exactly-once as the grouped KLL sink (CMS adds — see
    * [[applyGroupedCmsBatch]]).
    */
  def groupedCmsSketchIncremental(
      docs: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 8, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, sketchTable,
      (b, id) => applyGroupedCmsBatch(b, toKeyValue, sketchTable,
        id, eps, confidence, seed, buckets, parts))

  /** One micro-batch of the PER-KEY streaming SET sketch
    * ([[groupedThetaSketchIncremental]]): per-source theta rows — the
    * fourth algebra of the grouped family (KLL distributes, HLL counts,
    * CMS bounds frequencies; theta SET-ALGEBRAS: per-source vocabulary
    * sets that intersect/difference against each other or any reference
    * sketch at read time). Theta union is idempotent and byte-pure, so
    * like the grouped HLL sink the guard row is belt-and-braces — exact
    * replay skip, params check, regression refusal.
    */
  def applyGroupedThetaBatch(
      batch: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long, lgK: Int = 12,
      buckets: Int = 4, parts: Int = 8): Boolean =
    applyGroupedSketchBatch(batch, toKeyValue, sketchTable, batchId,
      params = s"theta;lgK=$lgK",
      batchAgg = org.apache.spark.sql.functions.call_function(
        "theta_agg", col("value"), lit(lgK)),
      mergeAgg = org.apache.spark.sql.functions.call_function(
        "theta_union_agg", col("sk"), lit(lgK)),
      buckets = buckets, parts = parts)

  /** PER-KEY streaming set state (r17): one theta row per key ever
    * seen, maintained over an unbounded stream under the grouped
    * guard-row + partition-pruned-probe skeleton. What the grouped HLL
    * row cannot answer: CROSS-KEY set algebra — per-source vocabulary
    * overlap/containment ([[readGroupedThetaMatrix]]) and per-source
    * screening against a reference sketch, all from kilobyte payloads.
    */
  def groupedThetaSketchIncremental(
      docs: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, lgK: Int = 12,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 8, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, sketchTable,
      (b, id) => applyGroupedThetaBatch(b, toKeyValue, sketchTable,
        id, lgK, buckets, parts))

  /** One micro-batch of the ONE-PASS MULTI-SKETCH state (r18, VERDICT
    * r17 next #3): KLL + HLL + CMS for the SAME key, maintained in ONE
    * state table under ONE partition-pruned probe, ONE merge pass, and
    * ONE guard-row upsert — where the three single-family sinks each
    * pay their own probe+merge+upsert per trigger for the same keys.
    * The state row is `(key, kll, hll, cms, last_batch, params)`; each
    * column's algebra is exactly its single-family sink's (same
    * aggregates, same parameters), so the maintained sketches are
    * BYTE-IDENTICAL to the separate tables' — the q226 gate pins that
    * equality, and MultiSketchSpec pins the job-count saving.
    * `value` must be integral/string (the HLL/CMS input contract); KLL
    * absorbs it cast to double.
    */
  def applyGroupedMultiSketchBatch(
      batch: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String, batchId: Long,
      k: Int = 200, lgK: Int = 12, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42,
      thetaLgK: Option[Int] = None,
      buckets: Int = 4, parts: Int = 8): Boolean =
    applyGroupedSketchBatch(batch, toKeyValue, sketchTable, batchId,
      params =
        s"multi;kll.k=$k;hll.lgK=$lgK;cms.eps=$eps;conf=$confidence;seed=$seed" +
          thetaLgK.map(lg => s";theta.lgK=$lg").getOrElse(""),
      algebras = Seq(
        SketchAlgebra("kll",
          org.apache.spark.sql.functions.call_function(
            "kll_agg", col("value").cast("double"), lit(k)),
          org.apache.spark.sql.functions.call_function(
            "kll_merge_agg", col("kll"), lit(k))),
        SketchAlgebra("hll",
          hll_sketch_agg(col("value"), lit(lgK)),
          hll_union_agg(col("hll"), lit(false))),
        SketchAlgebra("cms",
          count_min_sketch(col("value"), lit(eps), lit(confidence), lit(seed)),
          org.apache.spark.sql.functions.call_function(
            "cms_merge_agg", col("cms")))) ++
        // theta as the FOURTH family (r19 — VERDICT r18 next #6): union
        // is idempotent, so theta alone would not need the replay guard
        // — but the MIXED row does: KLL and CMS fold by addition, so the
        // watermark must still refuse the whole replayed batch or the
        // row's other columns double-count while theta silently no-ops.
        // Sharing the skeleton keeps the four families under ONE probe,
        // ONE merge pass, ONE watermark commit.
        thetaLgK.toSeq.map(lg =>
          SketchAlgebra("theta",
            org.apache.spark.sql.functions.call_function(
              "theta_agg", col("value"), lit(lg)),
            org.apache.spark.sql.functions.call_function(
              "theta_union_agg", col("theta"), lit(lg)))),
      buckets = buckets, parts = parts)

  /** Streaming sink maintaining the one-pass multi-sketch state — see
    * [[applyGroupedMultiSketchBatch]].
    */
  def groupedMultiSketchIncremental(
      docs: DataFrame, toKeyValue: DataFrame => DataFrame,
      sketchTable: String,
      k: Int = 200, lgK: Int = 12, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42,
      thetaLgK: Option[Int] = None,
      checkpointLocation: Option[String] = None,
      buckets: Int = 4, parts: Int = 8, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    guardedSketchSink(docs, checkpointLocation, compactEvery, sketchTable,
      (b, id) => applyGroupedMultiSketchBatch(b, toKeyValue, sketchTable,
        id, k, lgK, eps, confidence, seed, thetaLgK, buckets, parts))

  /** The grouped theta state's PAIRWISE OVERLAP MATRIX: for every
    * unordered key pair (a < b), the per-key distinct estimates and the
    * intersection estimate with the DataSketches library's own
    * confidence interval at `numStd` standard deviations — the
    * cross-source containment matrix a corpus datasheet publishes.
    * Driver-side pairwise over O(keys) kilobyte payloads (keys are
    * sources/languages/shards — small by nature; O(keys²) set ops on
    * KB operands, no Spark job beyond the one O(keys)-row read). The
    * corpus itself is never touched: it was absorbed incrementally by
    * the stream.
    */
  def readGroupedThetaMatrix(
      spark: org.apache.spark.sql.SparkSession, sketchTable: String,
      numStd: Int = 3): DataFrame = {
    import graft.functions.SketchAggs
    import spark.implicits._
    val rows = graft.sources.Store.read(spark, sketchTable)
      .filter(col("key") =!= GroupGuardKey)
      .select(col("key"), col("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .sortBy(_._1)
    (for {
      i <- rows.indices
      j <- (i + 1) until rows.length
    } yield {
      val (ka, ska) = rows(i)
      val (kb, skb) = rows(j)
      val (ia, ialb, iaub) = SketchAggs.thetaBounds(ska, numStd)
      val (ib, iblb, ibub) = SketchAggs.thetaBounds(skb, numStd)
      val (ii, iilb, iiub) = SketchAggs.thetaIntersectBounds(ska, skb, numStd)
      (ka, kb, ia, ialb, iaub, ib, iblb, ibub, ii, iilb, iiub)
    }).toSeq.toDF("key_a", "key_b",
      "est_a", "a_lb", "a_ub", "est_b", "b_lb", "b_ub",
      "est_inter", "inter_lb", "inter_ub")
  }

  /** Per-key serving read: estimate each (key, value) probe against ITS
    * key's stored CMS — a keyed join over O(keys) sketch rows with the
    * per-row `cms_estimate_row` probe, never a corpus scan. Probes whose
    * key has no stored sketch estimate 0 (nothing of that source was
    * ever absorbed — the CMS zero, not a null).
    */
  def readGroupedCmsEstimates(
      spark: org.apache.spark.sql.SparkSession, sketchTable: String,
      probes: DataFrame): DataFrame =
    probes
      .join(graft.sources.Store.read(spark, sketchTable)
          .filter(col("key") =!= GroupGuardKey).select(col("key"), col("sk")),
        Seq("key"), "left")
      .select(col("key"), col("value"),
        coalesce(
          graft.functions.CmsExprs.cms_estimate_row(col("value"), col("sk")),
          lit(0L)).as("est"))

  /** STREAMING heavy hitters — q100's streaming twin: per micro-batch the
    * token counts land in a persisted count [[graft.sources.Store]] table
    * and a count-min sketch rides along, MERGED driver-side (CMS merge is
    * exact: cellwise add — the mergeable-sketch property that lets every
    * executor/batch/day sketch independently at 100 TB and the union still
    * answer point queries within ε·N).
    *
    * Two accumulation paths, deliberately different durability classes:
    *
    *  - EXACT counts: each batch's (token, n) rows are keyed
    *    `batch|token` — a REPLAYED batch overwrites its own rows instead
    *    of double-adding, so the table is correct under foreachBatch's
    *    at-least-once replay without any read-modify-write of prior state
    *    (the append-only-facts rule of [[nearDupIncremental]], made
    *    idempotent by keying). Readers aggregate
    *    `groupBy(tok).sum(n)` — at scale that read-side fold is the
    *    map-combinable aggregate, and [[graft.sources.Store.compact]]
    *    bounds the file count like every other streaming sink here.
    *  - CMS: held for THIS run only (restart loses it; a replayed batch
    *    double-merges). It is the cheap upper-bound probe; the table is
    *    the durable truth the gate hash-checks.
    */
  def heavyHittersIncremental(
      docs: DataFrame, textCol: String, countsTable: String,
      checkpointLocation: Option[String] = None,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42,
      buckets: Int = 4, parts: Int = 4)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => Option[org.apache.spark.util.sketch.CountMinSketch]) = {
    // driver-held (foreachBatch runs on the driver, one batch at a time)
    var merged: Option[org.apache.spark.util.sketch.CountMinSketch] = None
    val wr = docs.writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // one source scan per trigger (see exactDedupIncremental)
        val b = batch.toDF().localCheckpoint()
        if (!b.isEmpty) {
          // token stream built once, shared by the count agg and the sketch
          val toks = b.filter(col(textCol).isNotNull)
            .select(explode(graft.ops.TextStats.tokens(col(textCol))).as("tok"))
            .persist()
          try {
            // distinct-token-bounded → localized (r17)
            val counts = graft.sources.Store.localized(
              toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
                .withColumn("bkey", concat(lit(batchId), lit("|"), col("tok"))))
            if (graft.tools.DriverProf.time("es.tableExists")(spark.catalog.tableExists(countsTable)))
              graft.sources.Store.upsert(spark, countsTable, counts, "bkey", buckets)
            else
              graft.sources.Store.bulkWrite(counts, countsTable, "bkey",
                buckets = buckets, parts = parts)
            val cms = toks.stat.countMinSketch(col("tok"), eps, confidence, seed)
            merged match {
              case Some(m) => m.mergeInPlace(cms); ()
              case None    => merged = Some(cms)
            }
          } finally toks.unpersist()
        }
      }
    checkpointLocation.foreach(dir => wr.option("checkpointLocation", dir))
    (wr.start(), () => merged)
  }

  /** STREAM-STREAM range (interval-containment) join — the streaming twin
    * of [[graft.ops.Events.rangeJoin]], and the same rewrite makes it
    * POSSIBLE at all: Structured Streaming requires an equality predicate
    * to shuffle/route both sides' state, which a bare `ts BETWEEN s AND e`
    * join lacks. Keying both streams by time bucket (an interval explodes
    * to each bucket it overlaps; a point hashes to exactly one) gives the
    * equi-key, the exact predicate filters bucket collisions, and the
    * event-time range condition lets the engine expire join state as the
    * watermarks advance — bounded state on an unbounded stream.
    *
    * Both inputs must be streaming frames with event-time columns; output
    * follows inner-join append semantics (a match emits once both sides
    * have arrived).
    */
  def rangeJoinStream(
      points: DataFrame, intervals: DataFrame,
      tsCol: String, startCol: String, intervalSeconds: Long,
      bucketSeconds: Long, watermark: String = "2 hours"): DataFrame = {
    val usPerBucket = bucketSeconds * 1000000L
    def bucketOf(c: org.apache.spark.sql.Column) = floor(unix_micros(c) / usPerBucket)
    // the interval END is expressed as startCol + INTERVAL in the join
    // condition itself (not a precomputed column): the range then relates
    // the two WATERMARKED event-time columns directly, which is what lets
    // the engine compute per-side state watermarks and drop expired rows
    val end = col(startCol) + expr(s"INTERVAL $intervalSeconds SECONDS")
    val p = points
      .withWatermark(tsCol, watermark)
      .withColumn("__pb", bucketOf(col(tsCol)))
    val i = intervals
      .withWatermark(startCol, watermark)
      .withColumn("__ib", explode(sequence(bucketOf(col(startCol)), bucketOf(end))))
    p.join(i,
        col("__pb") === col("__ib") &&
          col(tsCol) >= col(startCol) && col(tsCol) <= end)
      .drop("__pb", "__ib")
  }

  /** Streaming exact dedup — the streaming twin of
    * [[graft.ops.Dedup.exactGroups]]'s keeper selection: the first arrival
    * of each key wins, re-deliveries within the watermark horizon are
    * dropped, and dedup state is EXPIRED once the watermark passes (plain
    * `dropDuplicates` on a stream would grow state forever — the difference
    * between a pipeline that runs for months and one that OOMs on day two).
    * Key by `event_id` for at-least-once transport dedup, or by a content
    * fingerprint column ([[graft.ops.TextStats.fingerprint]]) for corpus
    * dedup of a document firehose.
    */
  def dedupWithinWatermark(
      stream: DataFrame, tsCol: String, delay: String, keyCols: Seq[String]): DataFrame =
    stream
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Per-group CUSTOM state carried across micro-batches. */
  final case class SessionState(lastTsUs: Long, nSessions: Long, nEvents: Long)
  final case class UserSessionStats(user_id: Long, n_sessions: Long, n_events: Long)

  /** Custom-state stateful processing via `mapGroupsWithState` — the
    * KeyValueGroupedDataset surface for state shapes the built-in windows
    * can't express. This instance reimplements gap-sessionization COUNTS
    * with explicit state (last event time, session count, event count per
    * user), emitting each user's running totals per micro-batch; the q70
    * gate pins it against the q32 batch-SQL oracle, so the hand-rolled
    * state machine must agree with the window-function formulation
    * exactly (strict `> gap` boundary, ties ordered by (ts, event_id)).
    *
    * Contract: events for a user must not arrive out of order ACROSS
    * micro-batches (within a batch any order is fine — the fold sorts);
    * a production deployment pairs this with watermark-driven timeout
    * state expiry. The point here is the surface: arbitrary state ×
    * per-group fold × cross-batch persistence.
    */
  def sessionStatsCustomState(
      events: DataFrame, gapSeconds: Long = 1800L)
      : org.apache.spark.sql.Dataset[UserSessionStats] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")), col("event_id").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, UserSessionStats](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { case (_, tsUs, _) =>
            val isNew = st.nEvents == 0L || tsUs - st.lastTsUs > gapUs
            st = SessionState(tsUs, st.nSessions + (if (isNew) 1L else 0L), st.nEvents + 1L)
          }
          state.update(st)
          UserSessionStats(user, st.nSessions, st.nEvents)
      }
  }

  /** Per-user funnel-chain state: timestamps (µs) of the stages reached so
    * far, in stage order — `t.length` IS the user's current depth.
    */
  final case class FunnelChain(t: Seq[Long])
  final case class UserFunnelDepth(user_id: Long, depth: Int)

  /** STREAMING ordered funnel via `flatMapGroupsWithState` — the
    * continuous twin of [[graft.ops.Events.funnel]] (q145): per user,
    * stage k is reached by the first event of `stages(k)` STRICTLY after
    * stage k-1's timestamp, and the state carried across micro-batches is
    * just the reached-stage timestamp chain (O(|stages|) per live user —
    * never the user's events).
    *
    * Emits each user's current depth on every micro-batch that carries
    * any of their events (update semantics — depth is monotone
    * nondecreasing, so readers keep the max per user; a keyed upsert sink
    * converges to the same). Users whose events never match a stage
    * still emit depth 0, matching the batch funnel's LEFT-join rule.
    *
    * State is WATERMARK-BOUNDED: event-time timeout at the user's last
    * seen event + `horizonHours` clears the chain once the watermark
    * passes it (a funnel has a horizon; keeping every user forever is
    * the state leak that kills month-long streams). Same cross-batch
    * ordering contract as [[sessionStatsCustomState]]: a user's events
    * must not arrive out of order ACROSS micro-batches (within a batch
    * the fold sorts) — with in-order arrival the greedy next-stage fill
    * provably equals the batch chain, because each stage's first
    * qualifying event is processed before any later candidate.
    */
  def funnelCustomState(
      events: DataFrame, stages: Seq[String], watermarkDelay: String = "2 hours",
      horizonHours: Long = 96L)
      : org.apache.spark.sql.Dataset[UserFunnelDepth] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(stages.nonEmpty, "need at least one funnel stage")
    require(stages.distinct.size == stages.size, "funnel stages must be distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val horizonMs = horizonHours * 3600000L
    // ts stays a TIMESTAMP column through the typed view: event-time
    // timeout resolves the watermark from the retained column (projecting
    // it to a long would silently drop the watermark and fail analysis)
    def us(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_type"), col("event_id").cast("long"))
      .as[(Long, java.time.Instant, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelChain, UserFunnelDepth](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (us(r._2), r._4))
            var chain = state.getOption.map(_.t.toVector).getOrElse(Vector.empty[Long])
            sorted.foreach { case (_, ts, tpe, _) =>
              val next = chain.length
              if (next < stages.length && tpe == stages(next) &&
                  (next == 0 || us(ts) > chain(next - 1)))
                chain :+= us(ts)
            }
            state.update(FunnelChain(chain))
            // expire the chain once the watermark passes the horizon past
            // the user's last activity (µs event time → ms timeout clock)
            sorted.lastOption.foreach { last =>
              state.setTimeoutTimestamp(us(last._2) / 1000L + horizonMs)
            }
            Iterator.single(UserFunnelDepth(user, chain.length))
          }
      }
  }

  /** Per-user cohort state: the hour of the user's FIRST event (µs) and
    * which k-offsets have already been credited (≤ maxOffset+1 ints —
    * bounded by construction, never the user's events).
    */
  final case class CohortState(cohortHourUs: Long, seen: Seq[Int])
  final case class UserCohortHit(user_id: Long, cohort_hour_us: Long, k: Int)

  /** STREAMING cohort retention — the continuous twin of
    * [[graft.ops.Events.cohortRetention]] (q146): each user's first event
    * fixes their cohort hour; activity in cohort-hour+k (k ≤ maxOffset)
    * emits ONE (user, cohort_hour, k) credit, exactly once per offset
    * (the state remembers credited offsets). Credits are append-only
    * facts: readers `distinct()` then count distinct users per
    * (cohort_hour, k) — the q94 pairs rule — and land on the batch
    * formulation for any in-order batch split.
    *
    * State expires by event-time timeout once the watermark passes
    * `retainUserHours` beyond the user's last activity. The state is two
    * small fields, so the retention horizon can be generous — and it
    * must be: a user who returns AFTER expiry is re-cohorted as new (the
    * standard "resurrected user" convention), which diverges from the
    * batch formulation's forever-memory first event. Parity with the
    * batch oracle therefore holds exactly when the retention horizon
    * covers the corpus span (the q162 gate runs 30-day retention over a
    * 30-day table). Same cross-batch ordering contract as
    * [[funnelCustomState]]: the FIRST event must arrive first, or the
    * cohort hour itself would be wrong.
    */
  def cohortRetentionCustomState(
      events: DataFrame, maxOffset: Int, watermarkDelay: String = "2 hours",
      retainUserHours: Long = 720L)
      : org.apache.spark.sql.Dataset[UserCohortHit] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(maxOffset >= 0)
    val spark = events.sparkSession
    import spark.implicits._
    val hourUsL = 3600000000L
    def us(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("ts"), col("event_id").cast("long"))
      .as[(Long, java.time.Instant, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CohortState, UserCohortHit](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (us(r._2), r._3))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ListBuffer.empty[UserCohortHit]
            sorted.foreach { case (_, ts, _) =>
              val hourUs = us(ts) - math.floorMod(us(ts), hourUsL)
              if (st == null) st = CohortState(hourUs, Seq.empty)
              val k = ((hourUs - st.cohortHourUs) / hourUsL).toInt
              if (k >= 0 && k <= maxOffset && !st.seen.contains(k)) {
                st = st.copy(seen = st.seen :+ k)
                out += UserCohortHit(user, st.cohortHourUs, k)
              }
            }
            state.update(st)
            // expire only past the user-retention horizon (see scaladoc:
            // expiring at the cohort window's end would re-cohort every
            // returning user as new)
            val lastMs = us(sorted.last._2) / 1000L
            state.setTimeoutTimestamp(lastMs + retainUserHours * 3600000L)
            out.iterator
          }
      }
  }

  /** Session windows with a 30-minute gap per user — the streaming form of
    * [[graft.ops.Events.sessionize]], state expired by watermark.
    */
  def sessionized(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(graft.Num.dec6(col("value"))), 2).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))
}
