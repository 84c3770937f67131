package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("containmentPairs: an excerpt is fully contained while Jaccard stays low") {
    val src = "a b c d e f g h i j k l m n o p q r s t"
    val docs = Seq(
      (1L, src),
      (2L, "a b c d e"),   // 5-token excerpt: 3 shingles, all in doc 1
      (3L, "x y z w v")    // unrelated
    ).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(docs, "doc_id", "text", w = 3)
    val got = Dedup.containmentPairs(sh, "doc_id", minContainment = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("inter"), r.getAs[Long]("sz_a"), r.getAs[Long]("sz_b"),
          r.getAs[Double]("c_a"), r.getAs[Double]("c_b")))).toMap
    // doc 1 has 18 shingles, doc 2 has 3 — intersection 3: c_a = 3/18,
    // c_b = 1.0; Jaccard would be 3/18 = 0.167 and never trip a 0.9 bar
    assert(got.keySet === Set((1L, 2L)))
    val (inter, szA, szB, cA, cB) = got((1L, 2L))
    assert(inter === 3L && szA === 18L && szB === 3L)
    assert(cA === 3.0 / 18.0 && cB === 1.0)
    // symmetric-measure cross-check: the same pair is invisible to a
    // 0.9-Jaccard filter
    val jac = Dedup.jaccardPairs(sh, "doc_id")
      .filter(col("jaccard") >= 0.9).count()
    assert(jac === 0L)
  }

  test("incrementalExactKeepers: index hits drop against the stored keeper, even at a lower id") {
    val oldDocs = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val oldIndex = Dedup.exactGroups(oldDocs, "doc_id", "text")
      .select(col("fingerprint"), col("keep_id").as("keeper"))
    val newDocs = Seq(
      (0L, "y"),       // dup of OLD 2 — old keeper wins despite 0 < 2
      (10L, "x"),      // dup of old 1
      (11L, "z  w"),   // new-only fingerprint, min id → keeper
      (12L, "Z w"),    // new×new CANONICAL dup of 11 (case + whitespace)
      (13L, "Y")       // case-canonical dup of old 2
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExactKeepers(oldIndex, newDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      0L -> ((2L, false)),
      10L -> ((1L, false)),
      11L -> ((11L, true)),
      12L -> ((11L, false)),
      13L -> ((2L, false))))
  }

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home"
  private def docs = Seq(
    (1L, base),
    (2L, base),                                  // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),        // near-dup of 1
    (4L, "completely different words about spark shuffles and partitions here"),
    (5L, "Another   UNRELATED document with    extra whitespace and casing"),
    (6L, "another unrelated document with extra whitespace and casing"),  // canonical dup of 5
  ).toDF("doc_id", "text")

  test("exactGroups collapses canonical duplicates to the lowest id") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(groups(1L) === 2L) // 1 and 2
    assert(groups(5L) === 2L) // 5 and 6 (case/whitespace canonicalized)
    assert(groups(3L) === 1L)
    assert(groups(4L) === 1L)
  }

  test("minhash LSH candidates find the planted near-dup pair without cross join") {
    val sh = Dedup.wordShingles(docs, "doc_id", "text", w = 3)
    val sig = Dedup.minhashSignatures(sh, "doc_id", k = 8)
    val cands = Dedup.minhashCandidates(
      Dedup.minhashBands(sig, "doc_id", k = 8, r = 2), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), "exact dup pair must collide in every band")
    assert(cands.contains((1L, 3L)) || cands.contains((2L, 3L)),
      s"near-dup should collide in some band; got $cands")
    assert(!cands.contains((1L, 4L)), "unrelated docs should not be candidates")
  }

  test("jaccardPairs computes exact shingle Jaccard for co-shingled pairs") {
    val sh = Dedup.wordShingles(docs, "doc_id", "text", w = 3)
    val j = Dedup.jaccardPairs(sh, "doc_id")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) === 1.0)
    val near = j((1L, 3L))
    assert(near > 0.3 && near < 1.0, s"near-dup jaccard out of range: $near")
    assert(!j.contains((1L, 4L)), "no shared shingle → no pair emitted")
  }

  test("simhash: identical docs equal; near-dups closer than unrelated docs") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)),
      "near-dup must be closer in Hamming space than an unrelated doc")
  }

  test("wordShingles emits distinct sliding 3-grams; short docs emit none") {
    val tiny = Seq((9L, "only two")).toDF("doc_id", "text")
    assert(Dedup.wordShingles(tiny, "doc_id", "text", 3).count() === 0L)
    val sh = Dedup.wordShingles(Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("shingle").as[String].collect().toSet
    assert(sh === Set("a b c", "b c d"))
  }

  test("wordShingles dedups per document SCAN-LOCAL: repeated shingles collapse with zero Exchange") {
    // "a b c a b c a b c" repeats the window "a b c" (and the wraps) —
    // the per-doc distinct must collapse them exactly like the former
    // global .distinct() did, WITHOUT the shuffle the former paid (the
    // r19 opt: ids are unique, so array_distinct == global distinct)
    val docs = Seq((1L, "a b c a b c a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(docs, "doc_id", "text", 3)
    val rows = sh.as[(Long, String)].collect().toSeq
    assert(rows.size === rows.toSet.size, "pairs must be distinct")
    assert(rows.filter(_._1 == 1L).map(_._2).toSet ===
      Set("a b c", "b c a", "c a b"))
    val exchanges = sh.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.isEmpty,
      s"wordShingles must stay scan-local; found ${exchanges.size} Exchange(s)")
  }

  test("overlap joins key on the 128-bit shingle hash, not the string (r19 §2.3, widened r20)") {
    // structural pin of the narrowing: the inverted-index self-join's
    // plan hashes the shingle before any exchange; the VALUES stay exact
    // (jaccardPairs' closed-form tests above pin that). 128 bits as TWO
    // long hash columns, not one xxhash64: 64-bit keys collide past the
    // 2³² birthday bound — at 100 TB that silently changes what the
    // query computes.
    val sh = Dedup.wordShingles(docs, "doc_id", "text", w = 3)
    val plan = Dedup.jaccardPairs(sh, "doc_id").queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"),
      s"expected hashed shingle keys in the overlap join plan:\n$plan")
    assert(plan.contains("sh_h1") && plan.contains("sh_h2"),
      s"expected BOTH 64-bit key halves in the overlap join plan:\n$plan")
  }

  test("stop-shingle pruning collapses a hot-shingle candidate explosion") {
    // 40 docs all sharing one hot 3-gram (df=40 → 780 join rows from that
    // shingle alone) + one planted exact near-dup pair on cold shingles
    val hotDocs = (0L until 40L).map(i => (i, s"the quick brown unique$i"))
    val planted = Seq((100L, "alpha beta gamma delta"), (101L, "alpha beta gamma delta"))
    val sh = Dedup.wordShingles((hotDocs ++ planted).toDF("doc_id", "text"), "doc_id", "text", 3)

    val unpruned = Dedup.jaccardPairs(sh, "doc_id")
    assert(unpruned.count() === 781L, "hot shingle should generate all-pairs without pruning")

    val pruned = Dedup.jaccardPairs(sh, "doc_id", maxShingleDf = Some(10))
    val pairs = pruned.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    assert(pairs.length === 1, s"pruning must leave only the planted pair: ${pairs.toSeq}")
    assert(pairs.head === ((100L, 101L, 1.0)))
  }

  test("connectedComponents labels chains, cliques and pairs with the component min") {
    // component {1,2,3,4} as a chain (diameter 3 — needs real propagation,
    // not just one round), clique {10,11,12}, pair {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (21L, 20L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // a 12-node path is the adversarial shape (diameter 11): still converges
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(path, maxIter = 15).collect()
      .map(r => r.getLong(1)).distinct
    assert(labels.toSeq === Seq(0L), "path graph must collapse to one component")
  }

  test("altStar connected components equal min-label propagation on chain, clique, random graphs") {
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain + clique + pair (the propagation test's graph)
    val mixed = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (21L, 20L)).toDF("id_a", "id_b")
    assert(labelsOf(Dedup.connectedComponentsAltStar(mixed)) ===
      labelsOf(Dedup.connectedComponents(mixed)))
    // seeded random graph: 80 nodes, 100 edges — arbitrary shape
    val rnd = new scala.util.Random(0xA17E5742L)
    val randomPairs = Seq.fill(100)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    assert(labelsOf(Dedup.connectedComponentsAltStar(randomPairs)) ===
      labelsOf(Dedup.connectedComponents(randomPairs)))
  }

  test("altStar converges in O(log n) rounds on a long chain where propagation needs diameter") {
    // 120-node path: propagation needs ~120 rounds (maxIter default 20
    // would throw); the star alternation must finish well inside 50
    val chain = (0L until 119L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponentsAltStar(chain).collect()
      .map(r => r.getLong(1)).distinct
    assert(labels.toSeq === Seq(0L), "chain must collapse to one component rooted at 0")
    // self-pair-only input: every node is its own singleton
    val selfOnly = Seq((5L, 5L), (9L, 9L)).toDF("id_a", "id_b")
    val singletons = Dedup.connectedComponentsAltStar(selfOnly).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(singletons === Map(5L -> 5L, 9L -> 9L))
  }

  test("keepers totally labels the corpus: singletons keep, cluster non-minima drop") {
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "d")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.keepers(corpus, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      7L -> ((7L, true))), "7 is a singleton (absent from pairs) and must self-label keep")
  }

  test("connectedComponents convergence probe is a join-free scan of checkpointed blocks") {
    // the r6 loop re-joined the two full label frames every round just to
    // ask "did anything change"; the previous label now rides the round's
    // own aggregate (via the self-loop row), so the probe must plan as a
    // bare filter over the materialized LogicalRDD — no join, no shuffle,
    // no recompute of the propagation.
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        if (funcName == "isEmpty") probes.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.listenerManager.register(listener)
    try {
      val labels = Dedup.connectedComponents(path, maxIter = 15).collect()
        .map(r => r.getLong(1)).distinct
      assert(labels.toSeq === Seq(0L))
      org.apache.spark.SparkEvents.drain(spark.sparkContext)
      assert(!probes.isEmpty, "expected isEmpty convergence probes")
      probes.forEach { plan =>
        assert(!plan.contains("Join") && !plan.contains("Exchange"),
          s"convergence probe recomputes the propagation:\n$plan")
        assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
          s"convergence probe does not read the checkpointed frame:\n$plan")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("incrementalCandidates == batch candidates restricted to the new ids; old×old never emitted") {
    // old: 1,2 exact dups + 5,6 canonical dups; new: 7 (dup of 1 — the
    // k=4 band collision is then guaranteed, not probabilistic), 8 (clean)
    val oldDocs = docs
    val newDocs = Seq(
      (7L, base),
      (8L, "fresh totally novel content nothing like before")).toDF("doc_id", "text")
    def sigs(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignaturesScanLocal(d, "doc_id", "text", k = 4, w = 3)
    val got = Dedup.incrementalCandidates(sigs(oldDocs), sigs(newDocs), "doc_id", k = 4, r = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch pipeline over the union, filtered to pairs touching a new id
    val all = sigs(oldDocs.unionByName(newDocs))
    val batch = Dedup.minhashCandidates(
        Dedup.minhashBands(all, "doc_id", k = 4, r = 2), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = batch.filter { case (a, b) => a >= 7L || b >= 7L }
    assert(got === want, s"incremental/batch disagree: got $got want $want")
    assert(got.nonEmpty, "vacuous: the planted new near-dup produced no candidate")
    // the old×old duplicate pairs exist in the batch view but must not be
    // re-emitted by the increment
    assert(batch.exists { case (a, b) => a < 7L && b < 7L })
    assert(got.forall { case (a, b) => a >= 7L || b >= 7L })
  }

  test("incrementalCandidates reads the old side from a persisted Store signature index") {
    val newDocs = Seq((7L, base)).toDF("doc_id", "text")
    val direct = Dedup.incrementalCandidates(
        Dedup.minhashSignaturesScanLocal(docs, "doc_id", "text", k = 4, w = 3),
        Dedup.minhashSignaturesScanLocal(newDocs, "doc_id", "text", k = 4, w = 3),
        "doc_id", k = 4, r = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.sources.Store.bulkWrite(
      Dedup.minhashSignaturesScanLocal(docs, "doc_id", "text", k = 4, w = 3),
      "sig_index_spec", "doc_id", buckets = 4)
    try {
      val viaStore = Dedup.incrementalCandidates(
          graft.sources.Store.read(spark, "sig_index_spec"),
          Dedup.minhashSignaturesScanLocal(newDocs, "doc_id", "text", k = 4, w = 3),
          "doc_id", k = 4, r = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStore === direct)
      assert(viaStore.contains((1L, 7L)) && viaStore.contains((2L, 7L)))
    } finally spark.sql("DROP TABLE IF EXISTS sig_index_spec")
  }

  test("sourceOverlapMatrix: closed-form shared-shingle counts and Jaccard; disjoint pairs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "a b c d"), // x shingles: {a b c, b c d}
      (2L, "x", "a b c e"), //           + {b c e}          → sz 3
      (3L, "y", "a b c d"), // y: {a b c, b c d}            → sz 2
      (4L, "z", "p q r")    // z: {p q r}, disjoint         → sz 1
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlapMatrix(docs, "source", "text", w = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // only co-shingled pairs appear: the matrix is sparse by construction
    assert(got.keySet === Set(("x", "y")))
    assert(got(("x", "y")) === ((2L, 3L, 2L, 0.6667)))
  }

  test("corpusDiff: planted add/remove/change/unchanged statuses, whitespace-insensitive") {
    val old = Seq(
      (1L, "alpha beta"),
      (2L, "gamma"),
      (3L, "delta"),
      (4L, "epsilon")).toDF("doc_id", "text")
    val neu = Seq(
      (1L, "ALPHA   beta"),   // canonical-equal: case + whitespace collapse
      (2L, "gamma v2"),       // changed
      (4L, "epsilon"),        // unchanged
      (9L, "new doc")).toDF("doc_id", "text") // added; 3 removed
    val got = Dedup.corpusDiff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 9L -> "added"))
  }

  test("exactKeepersBy: highest score wins its fingerprint group, ties to the lowest id") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "same text", 1),   // dup group A, low priority
      (9L, "SAME   text", 3), // dup group A (canonical-equal), high priority → keeper
      (5L, "same text", 3),   // dup group A, same high priority, lower id than 9 → keeper instead
      (7L, "unique", 1)       // singleton keeps itself
    ).toDF("doc_id", "text", "prio")
    val got = Dedup.exactKeepersBy(docs, "doc_id", "text", col("prio"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> false, 9L -> false, 5L -> true, 7L -> true))
  }

  test("exactKeepersBy: STRING ids tie-break to the lowest id (no numeric-id contract)") {
    import org.apache.spark.sql.functions._
    // the pre-r12 tie-break negated the id (lit(0L) - id), which coerces a
    // string id to a null double and made the keeper nondeterministic;
    // the (-score, id) struct ordering must pick "a" here every time
    val docs = Seq(
      ("c", "same text", 3), ("a", "SAME   text", 3), ("b", "same text", 1),
      ("z", "unique", 1)
    ).toDF("doc_id", "text", "prio")
    val got = Dedup.exactKeepersBy(docs, "doc_id", "text", col("prio"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got === Map("a" -> true, "b" -> false, "c" -> false, "z" -> true))
  }

  test("spanDedup keeps each span's first occurrence and rebuilds documents in order") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),          // both chunks novel
      (2L, "a b c d e x y z w v"),          // chunk 0 copies doc 1's
      (3L, "x y z w v"),                    // whole doc copies doc 2's chunk 1
      (4L, "p q r s t p q r s t")           // repeats ITSELF: second span drops
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text", w = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      1L -> (("a b c d e f g h i j", 2L, 2L)),
      2L -> (("x y z w v", 2L, 1L)),
      3L -> (("", 1L, 0L)),
      4L -> (("p q r s t", 2L, 1L))))
    // a short tail chunk (< w tokens) is its own span, deduped like any other
    val tails = Seq((1L, "a b c d e zz"), (2L, "zz")).toDF("doc_id", "text")
    val gotTails = Dedup.spanDedup(tails, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotTails === Map(1L -> "a b c d e zz", 2L -> ""))
  }

  test("incrementalComponents: a new doc bridging two old clusters merges them canonically") {
    // old corpus: clusters {1,2} and {10,11} (labels canonical: min id),
    // singleton 20; new doc 100 pairs into BOTH old clusters, 101 arrives
    // unpaired
    val oldLabels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (20L, 20L))
      .toDF("doc_id", "component")
    val newIds = Seq(100L, 101L).toDF("doc_id")
    val newPairs = Seq((2L, 100L), (11L, 100L)).toDF("id_a", "id_b")
    val got = Dedup.incrementalComponents(oldLabels, newIds, "doc_id", newPairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)),
      10L -> ((1L, false)), 11L -> ((1L, false)),
      20L -> ((20L, true)),
      100L -> ((1L, false)), 101L -> ((101L, true))))
  }

  private def bandKeys(sig: Long, maxHamming: Int, sigBits: Int): Map[Int, Long] =
    Dedup.simhashBands(
        Seq((1L, sig)).toDF("doc_id", "simhash"), "doc_id", maxHamming, sigBits)
      .collect()
      .map(r => r.getAs[Int]("chunk_idx") -> r.getAs[Long]("chunk_key")).toMap

  test("simhash band layout: 60-bit default is frozen bit-identical (15-bit chunks)") {
    // the historical layout q29/q181 shipped on: 4 chunks of 15 bits each,
    // chunk i = bits [15i, 15i+15) — any drift re-shards every production
    // band index
    val sig = 0x0ABCDE123456789L // 60-bit value
    assert(bandKeys(sig, maxHamming = 3, sigBits = 60) === Map(
      0 -> (sig & 0x7FFFL),
      1 -> ((sig >> 15) & 0x7FFFL),
      2 -> ((sig >> 30) & 0x7FFFL),
      3 -> ((sig >> 45) & 0x7FFFL)))
  }

  test("simhash band layout: sigBits=64 shards the top nibble (r12 verdict #3)") {
    // two media hashes differing ONLY in bits 60–63: under the 60-bit text
    // layout every chunk key coincides (the collided-bucket cost the r12
    // verdict flagged); under sigBits=64 the top chunk separates them
    val a = 0x0123456789ABCDEFL & ~(0xFL << 60)
    val b = a | (0xFL << 60)
    val keys60 = (bandKeys(a, 3, 60), bandKeys(b, 3, 60))
    assert(keys60._1 === keys60._2, "60-bit layout cannot tell them apart")
    val keys64 = (bandKeys(a, 3, 64), bandKeys(b, 3, 64))
    assert(keys64._1(3) !== keys64._2(3), "64-bit top chunk must differ")
    assert((0 to 2).forall(i => keys64._1(i) === keys64._2(i)),
      "low chunks still collide — banding stays exhaustive up to maxHamming")
    // negative (sign-bit-set) signatures band without sign-extension leaks:
    // chunk keys are masked to chunk width
    bandKeys(-1L, 3, 64).values.foreach(k => assert(k === 0xFFFFL))
  }

  test("simhash band layout is balanced: no empty chunk at any admissible budget") {
    // the ceil-with-tail layout left chunk 8 of (maxHamming=8, 64 bits)
    // and chunk 15 of (15, 60) EMPTY — a constant 0 key sending that
    // band's self-join quadratic; the balanced split keeps every chunk
    // ≥ 1 real bit, so an all-ones signature's key is nonzero everywhere
    for ((mh, bits) <- Seq((8, 64), (15, 60), (8, 60), (3, 64), (0, 64))) {
      val keys = bandKeys(-1L, mh, bits)
      assert(keys.size === mh + 1)
      keys.foreach { case (i, k) =>
        assert(k !== 0L, s"empty chunk $i at (maxHamming=$mh, sigBits=$bits)")
      }
      // widths partition the signature: popcounts of the all-ones keys sum
      // to sigBits (chunks are disjoint and exhaustive)
      assert(keys.values.map(java.lang.Long.bitCount).sum === bits)
    }
  }

  test("simhashCandidates pair set is identical under 60- and 64-bit banding") {
    // exhaustiveness argument made executable: for 60-bit text signatures
    // the hamming-filtered pair set cannot depend on the band width
    val docs = Seq.tabulate(12)(i => (i.toLong, s"common body words unique$i term${i % 3}"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(docs, "doc_id", "text")
    def pairs(bits: Int) =
      Dedup.simhashCandidates(sigs, "doc_id", maxHamming = 8, sigBits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming") /* schema check */ )).toSet
    assert(pairs(60) === pairs(64))
  }
}
