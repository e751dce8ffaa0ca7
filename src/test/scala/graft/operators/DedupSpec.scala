package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "THE  quick brown fox jumps over the lazy dog again and again today"), // case/ws variant of 1
    (3L, "completely different content about distributed query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (5L, "an unrelated short text")).toDF("doc_id", "text")

  test("exactKeepFirst keeps lowest id per key") {
    val dup = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100))
    val out = Dedup.exactKeepFirst(dup, "doc_id", Seq("text"))
    assert(out.count() === 5)
    assert(out.agg(max("doc_id")).as[Long].head() === 5L)
  }

  test("normalizedDedup merges case/whitespace variants") {
    val out = Dedup.normalizedDedup(docs, "doc_id", "text")
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids === Set(1L, 3L, 4L, 5L)) // doc 2 merged into doc 1
  }

  test("minhash LSH: exact duplicates are always candidates (no false negatives)") {
    // identical text => identical shingles => identical signature => every
    // band collides. Invariant holds regardless of hash family.
    val planted = docs.unionByName(
      docs.filter($"doc_id" === 1).select(lit(99L).as("doc_id"), $"text"))
    val pairs = Dedup.minhashNearDupPairs(planted, "doc_id", "text", threshold = 0.99)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 99L)))
  }

  test("minhash LSH finds the planted near-dup and not the unrelated pair") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // today/tonight variant: high jaccard
    assert(!pairs.exists { case (a, b) => Set(a, b) === Set(3L, 5L) })
  }

  test("incremental minhash equals the batch run restricted to delta-involving pairs") {
    // delta: near-dup copies of docs 1 and 4 plus a genuinely new pair of
    // mutual near-dups — corpus↔delta AND delta↔delta pairs must surface
    val delta = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again today!"),
      (104L, "a quick brown fox jumps over the lazy dog again and again tonight"),
      (201L, "fresh corpus increment material with novel sentences inside it"),
      (202L, "fresh corpus increment material with novel sentences inside them"))
      .toDF("doc_id", "text")
    val threshold = 0.5
    val incr = Dedup.minhashNearDupPairsIncremental(
        Dedup.lshBuckets(docs, "doc_id", "text"), docs, delta,
        "doc_id", "text", threshold = threshold)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val deltaIds = Set(101L, 104L, 201L, 202L)
    val batch = Dedup.minhashNearDupPairs(docs.unionByName(delta),
        "doc_id", "text", threshold = threshold)
      .as[(Long, Long, Double)].collect()
      .filter(r => deltaIds(r._1) || deltaIds(r._2))
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(incr === batch)
    assert(incr.contains((1L, 101L)))   // corpus -> delta
    assert(incr.contains((201L, 202L))) // delta-internal
    // corpus-internal pairs never re-emerge from the incremental run
    assert(!incr.keys.exists { case (a, b) => !deltaIds(a) && !deltaIds(b) })
    // every posture/materialization combination yields the identical set
    for (restrict <- Seq(true, false); matz <- Seq(true, false)) {
      val alt = Dedup.minhashNearDupPairsIncremental(
          Dedup.lshBuckets(docs, "doc_id", "text"), docs, delta,
          "doc_id", "text", threshold = threshold,
          restrictToTouched = restrict, materializeIntermediates = matz)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(alt === batch, s"restrict=$restrict materialize=$matz diverged")
    }
  }

  test("filterNearDupFree keeps exactly the unmatched delta rows") {
    val delta = Seq((101L, "a"), (102L, "b"), (103L, "c")).toDF("doc_id", "text")
    val pairs = Seq((1L, 101L, 0.9), (102L, 103L, 0.8))
      .toDF("idA", "idB", "jaccard")
    val kept = Dedup.filterNearDupFree(delta, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // 101 matched the corpus, 102/103 matched each other → nothing survives
    // but a doc matching no pair side
    assert(kept === Set.empty[Long])
    val kept2 = Dedup.filterNearDupFree(delta,
        pairs.filter($"idA" === 1L), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === Set(102L, 103L))
  }

  test("simhash: identical docs at hamming 0, near-dups within threshold") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 10)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) === 0L) // normalized-identical => same simhash
    assert(pairs.contains((1L, 4L)))
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    val pairs = Seq((1L, 2L), (3L, 5L)).toDF("idA", "idB")
    val out = Dedup.ngramJaccard(pairs, docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((1L, 2L)) === 1.0)
    assert(out((3L, 5L)) === 0.0)
  }

  test("maxBucketSize drops degenerate buckets (skew guard)") {
    // 30 identical docs => every band bucket has 30+ members
    val clones = (100L to 129L).map(i => (i, "identical text repeated all over the corpus"))
      .toDF("doc_id", "text")
    val withPair = clones.unionByName(docs)
    val unguarded = Dedup.minhashNearDupPairs(withPair, "doc_id", "text", threshold = 0.9)
    // 30 clones -> C(30,2)=435 clone pairs present without the guard
    assert(unguarded.filter($"idA" >= 100 && $"idB" >= 100).count() === 435L)
    val guarded = Dedup.minhashNearDupPairs(withPair, "doc_id", "text", threshold = 0.9,
      maxBucketSize = 10)
    assert(guarded.filter($"idA" >= 100 && $"idB" >= 100).count() === 0L)
  }

  test("simhash hot buckets are refined, not dropped: planted pair in an " +
      "over-cap band is still recovered (VERDICT r4 #1)") {
    // maxHamming=3 => 4 bands of 16 bits. 60 signatures share band 0
    // verbatim (low 16 bits) => that bucket is hot at cap 10. The planted
    // pair (1, 2) differs in exactly 3 bits, one in EACH other band, so
    // band 0 is its only shared band: dropping the hot bucket (the old
    // behavior) would lose the pair; secondary banding on the remaining 48
    // bits must recover it.
    val sharedLow = 0xABCDL
    def scramble(i: Long): Long = graft.functions.Mix64.mix(i)
    val base = (scramble(777L) << 16) | sharedLow
    val partner = base ^ (1L << 20) ^ (1L << 40) ^ (1L << 56)
    val crowd = (3L to 60L).map(i => (i, (scramble(i) << 16) | sharedLow))
    val sigs = (Seq((1L, base), (2L, partner)) ++ crowd).toDF("doc_id", "sig")
    val got = Dedup.simhashPairsFromSignatures(sigs, "doc_id", "sig",
      maxHamming = 3, maxBucketSize = 10)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got.get((1L, 2L)) === Some(3L), s"planted pair lost; got $got")
    // exact recall check: the engine's pair set must equal brute-force
    // all-pairs Hamming <= 3 over the same signatures
    val all = (Seq((1L, base), (2L, partner)) ++ crowd)
    val expected = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib) -> h.toLong).toMap
    assert(got === expected)
  }

  test("simhash sub-bucket cap: only still-hot refined buckets drop, with observe metric") {
    // 40 IDENTICAL signatures: every band bucket is hot, and every
    // refined sub-bucket is still over the cap => dropped at the second
    // level with the simhash_subband_guard metric (quadratic crowd).
    // The whole query output is empty here, and AQEPropagateEmptyRelation
    // collapses runtime-empty branches BEFORE observedMetrics is collected
    // from the final adaptive plan — so the CollectMetrics node would be
    // pruned and the metric silently lost (bisected: a guard metric under a
    // join whose surviving side is runtime-empty never surfaces). Exclude
    // that one AQE rule here to verify the metric wiring; in production the
    // metric fires whenever the branch produces any output, which is the
    // non-degenerate case.
    spark.conf.set("spark.sql.adaptive.optimizer.excludedRules",
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    val clones = (1L to 40L).map(i => (i, 0x5A5A5A5A5A5A5A5AL)).toDF("doc_id", "sig")
    val (got, metrics) = try observedMetrics("simhash_subband_guard") {
      Dedup.simhashPairsFromSignatures(clones, "doc_id", "sig",
        maxHamming = 3, maxBucketSize = 10).count()
    } finally spark.conf.unset("spark.sql.adaptive.optimizer.excludedRules")
    val dropped = metrics.get("simhash_subband_guard").map(_.getAs[Long]("dropped_buckets"))
    assert(got === 0L, "still-hot sub-buckets must be dropped, not joined quadratically")
    assert(dropped.exists(_ >= 1L), s"expected subband dropped_buckets >= 1, got $dropped")
  }

  test("clusterAssignments: chains merge transitively, singletons label themselves") {
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4 (1 and 4 never pair
    // directly), {10,11}, singleton {99}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("idA", "idB")
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val got = Dedup.clusterAssignments(pairs, verts, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("clusterAssignments works for string ids (no decimal-sum convergence probe)") {
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("idA", "idB")
    val verts = Seq("a", "b", "c", "z").toDF("doc_id")
    val got = Dedup.clusterAssignments(pairs, verts, "doc_id")
      .as[(String, String)].collect().toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
  }

  test("clusterAssignments reliable-checkpoint mode: same clusters, rounds " +
      "written to the checkpoint dir (VERDICT r6 #4)") {
    // on a real cluster an executor loss mid-iteration kills a
    // localCheckpoint run; checkpointDir switches rounds to reliable
    // checkpoint() files that survive it. Same inputs, same clusters.
    val dir = tempDir("cc_ckpt")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("idA", "idB")
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val got = Dedup.clusterAssignments(pairs, verts, "doc_id",
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
    // the rounds actually went through files in the dir, superseded rounds
    // were deleted as the loop advanced, and ONLY the final labels frame's
    // backing file remains (a leak here is O(rounds × |V|) at cluster scale)
    val roundDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("round_"))
    assert(roundDirs.length === 1,
      s"expected exactly the final round file, got: ${roundDirs.map(_.getName).toSeq}")
  }

  test("clusterAssignments empty-vertices exit frees the edge snapshot too") {
    // the early return must honor the same contract as the converged exit:
    // only the final labels frame's backing file survives — leaking the
    // O(|E|) edge file per empty-delta call would accumulate on a
    // long-running service's shared checkpoint prefix
    val dir = tempDir("cc_empty")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("idA", "idB")
    val verts = Seq.empty[Long].toDF("doc_id")
    val got = Dedup.clusterAssignments(pairs, verts, "doc_id",
      checkpointDir = Some(dir))
    assert(got.count() === 0L)
    val roundDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("round_"))
    assert(roundDirs.length === 1,
      s"expected only the labels round file, got: ${roundDirs.map(_.getName).toSeq}")
  }

  test("keepRepresentatives keeps exactly the min-id doc per cluster") {
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (10L, "b"), (11L, "b'"),
      (99L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val clusters = Dedup.clusterAssignments(pairs, docs.select("doc_id"), "doc_id")
    val kept = Dedup.keepRepresentatives(docs, clusters, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 10L, 99L))
  }

  test("clusterRepresentatives keeps the best-scored member, ties to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val clusters = Dedup.clusterAssignments(pairs, ids, "doc_id")
    // cluster {1,2,3}: 2 wins on score; {10,11}: tie -> min id 10;
    // singleton {99} represents itself
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (10L, 0.4), (11L, 0.4),
      (99L, 0.1)).toDF("doc_id", "quality")
    val got = Dedup.clusterRepresentatives(clusters, scored,
        "doc_id", "cluster_id", "quality")
      .select($"cluster_id", $"cluster_size", $"rep_doc_id", $"rep_score")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 3L, 2L, 0.9), (10L, 2L, 10L, 0.4),
      (99L, 1L, 99L, 0.1)))
  }

  test("clusterAssignments converges in O(log n) rounds on a long path graph") {
    // a 64-node path is the adversarial case for plain neighbor-min
    // propagation (63 rounds); pointer jumping must finish well under the
    // 50-round cap
    val n = 64L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("idA", "idB")
    val verts = (0L until n).toDF("doc_id")
    val got = Dedup.clusterAssignments(pairs, verts, "doc_id", maxIters = 20)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 === 0L), s"all labels must collapse to 0: ${got.toSeq}")
  }

  test("skew guard publishes the dropped-bucket count as an observe metric") {
    val clones = (100L to 129L).map(i => (i, "identical text repeated all over the corpus"))
      .toDF("doc_id", "text")
    val (_, metrics) = observedMetrics("minhash_skew_guard") {
      Dedup.minhashNearDupPairs(clones.unionByName(docs), "doc_id", "text",
        threshold = 0.9, maxBucketSize = 10).count()
    }
    val dropped = metrics.get("minhash_skew_guard").map(_.getAs[Long]("dropped_buckets"))
    // every band bucket holding the 30 clones exceeded the cap of 10
    assert(dropped.exists(_ >= 1L), s"expected dropped_buckets >= 1, got $dropped")
  }

  test("d04 fixture never drops refined sub-buckets: dropped_buckets == 0 " +
      "(VERDICT r6 #6 — a fixture change that starts dropping pairs fails here)") {
    // the refine guard may legitimately drop still-hot sub-buckets at
    // corpus scale, but the CORRECTNESS fixture relies on zero drops —
    // its DuckDB oracle computes the full pair set. If this ever fires,
    // the oracle and the engine silently diverge; fail loudly instead.
    // when NOTHING is over-cap the refine branch is runtime-empty and AQE
    // prunes its CollectMetrics node — the subband metric is then
    // legitimately absent (zero drops by construction). It must be present
    // and zero whenever the first-level guard actually refined something.
    val (_, metrics) = observedMetrics("simhash_skew_guard") {
      graft.SparkEntry.queries("d04_simhash_pairs")(spark, "/root/testdata/sf0.001").count()
    }
    val refined = metrics.get("simhash_skew_guard").map(_.getAs[Long]("refined_buckets"))
    val dropped = metrics.get("simhash_subband_guard").map(_.getAs[Long]("dropped_buckets"))
    assert(refined.nonEmpty, "first-level simhash_skew_guard metric never fired")
    if (refined.exists(_ > 0L))
      assert(dropped.contains(0L),
        s"d04 fixture drops refined sub-buckets (oracle no longer exact): $dropped")
    else assert(dropped.forall(_ == 0L),
      s"subband guard reports drops without refinement: $dropped")
  }

  test("clusterAssignmentsIncremental: delta bridges two base clusters to the " +
      "component minimum; untouched clusters keep labels; singleton delta") {
    // base: {1,2} -> 1, {5,6} -> 5, untouched {3,4} -> 3, singleton 99
    val base = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L),
      (3L, 3L), (4L, 3L), (99L, 99L)).toDF("doc_id", "cluster_id")
    // delta doc 10 pairs with 2 AND 5 — bridging clusters 1 and 5;
    // delta 11 pairs only with itself-through-nothing (singleton);
    // delta 12-13 form a brand-new cluster
    val deltaV = Seq(10L, 11L, 12L, 13L).toDF("doc_id")
    val deltaP = Seq((2L, 10L), (10L, 5L), (12L, 13L)).toDF("idA", "idB")
    val got = Dedup.clusterAssignmentsIncremental(base, deltaV, deltaP, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 10L -> 1L, // merged via bridge
      3L -> 3L, 4L -> 3L, 99L -> 99L,                     // untouched
      11L -> 11L,                                          // singleton delta
      12L -> 12L, 13L -> 12L))                             // new delta cluster
  }

  test("clusterAssignmentsIncremental equals the full batch recompute on a " +
      "text corpus (pairs from the real LSH path)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about distributed query engines and shuffles"),
      (3L, "an unrelated short text about nothing in particular at all"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (102L, "completely different content about distributed query engines and exchanges"),
      (103L, "the quick brown fox jumps over the lazy dog again and again tonight!"),
      (104L, "a genuinely novel document sharing nothing with anything else here"))
      .toDF("doc_id", "text")
    val basePairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
    val baseClusters = Dedup.clusterAssignments(basePairs.select("idA", "idB"),
      docs.select("doc_id"), "doc_id")
    val deltaPairs = Dedup.minhashNearDupPairsIncremental(
      Dedup.lshBuckets(docs, "doc_id", "text"), docs, delta,
      "doc_id", "text", threshold = 0.5)
    val incremental = Dedup.clusterAssignmentsIncremental(baseClusters,
      delta.select("doc_id"), deltaPairs.select("idA", "idB"), "doc_id")
      .as[(Long, Long)].collect().toSet
    val all = docs.unionByName(delta)
    val batch = Dedup.clusterAssignments(
      Dedup.minhashNearDupPairs(all, "doc_id", "text", threshold = 0.5)
        .select("idA", "idB"),
      all.select("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(incremental === batch,
      "incremental fold diverged from the batch closure")
    // and the merge actually happened across base and delta
    assert(incremental.contains((103L, 1L)), s"cross-set cluster missing: $incremental")
  }

  test("removeDuplicatedSpans: shared span trimmed everywhere but its first occurrence") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta unique one tail"),
      (2L, "prefix two alpha beta gamma delta other words"),
      (3L, "prefix three alpha beta gamma delta closing words"),
      (4L, "nothing shared with anything here at all")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // the 4-gram "alpha beta gamma delta" occurs in docs 1,2,3; doc 1 pos 0
    // is canonical and keeps it, docs 2 and 3 lose exactly those 4 tokens
    assert(out(1L) === (("alpha beta gamma delta unique one tail", 7, 0)))
    assert(out(2L) === (("prefix two other words", 8, 4)))
    assert(out(3L) === (("prefix three closing words", 8, 4)))
    assert(out(4L)._3 === 0)
  }

  test("removeDuplicatedSpans: overlapping duplicated grams cover their union") {
    // docs 1 and 2 share a 5-word run => two overlapping 4-grams in doc 2;
    // covered positions must union, not double-remove or miss the overlap
    val corpus = Seq(
      (1L, "a b c d e one"),
      (2L, "x a b c d e y")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a b c d e one", "canonical occurrences stay")
    assert(out(2L) === "x y", "both overlapping grams' positions removed once")
  }

  test("removeDuplicatedSpans: within-doc repetition counts toward minCount") {
    val corpus = Seq(
      (1L, "p q r s middle p q r s end"),
      (2L, "totally distinct words everywhere in this row")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(3)))).toMap
    // "p q r s" occurs twice inside doc 1: pos 0 is canonical, pos 5 removed
    assert(out(1L) === (("p q r s middle end", 4)))
    assert(out(2L)._2 === 0)
  }

  test("removeDuplicatedSpans: short exact-dup docs dedup as whole-text grams") {
    val corpus = Seq(
      (1L, "tiny doc"),
      (2L, "tiny doc"),
      (3L, "other text")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "tiny doc", "first occurrence is canonical")
    assert(out(2L) === "", "second copy fully covered")
    assert(out(3L) === "other text")
  }

  test("containmentPairs: a truncated half-doc pairs with its source at " +
      "overlap 1.0 even though its Jaccard is far below the d03 bar") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again " +
        "today while the weather stays unreasonably warm for the season"),
      (2L, "completely different content about distributed query engines " +
        "and the shuffles they schedule across executor fleets at scale"),
      (3L, "an unrelated short text about nothing in particular at all"))
      .toDF("doc_id", "text")
    val half = base.select((col("doc_id") + 100).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, " +
        "cast(ceil(size(split(text, ' ')) / 2.0) as int)), ' ')")
        .as("text"))
    val all = base.unionByName(half)
    val pairs = Dedup.containmentPairs(all, "doc_id", "text", threshold = 0.9)
      .select("idA", "idB", "overlap").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    // every source gains exactly its own half-doc pair (a prefix's grams
    // are a subset of the full string's grams -> overlap exactly 1.0)
    assert(pairs.keySet === Set((1L, 101L), (2L, 102L), (3L, 103L)),
      s"pair set off: ${pairs.keySet}")
    assert(pairs.values.forall(_ === 1.0), s"overlap not 1.0: $pairs")
    // the same planted pairs sit far below the Jaccard bar — d03-style
    // symmetric dedup structurally misses them
    val jac = Dedup.minhashNearDupPairs(all, "doc_id", "text",
        threshold = 0.9)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 101L)),
      "fixture broken: the half-doc should NOT be a 0.9-Jaccard near-dup")
    // threshold respected: unrelated docs never pair
    assert(!pairs.keySet.exists { case (a, b) => (b - a) % 100 != 0 })
  }

  test("containmentPairs prefix filter loses no qualifying pair vs the " +
      "brute-force overlap truth on a mixed corpus") {
    val docs = (1L to 12L).map { i =>
      (i, s"document number $i talks about topic ${i % 4} with shared " +
        s"boilerplate text that every doc repeats verbatim here " +
        s"plus unique tail content ${i * 31} and ${i * 57} and ${i * 93}")
    }.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.6)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    // brute force: exact distinct-gram sets per doc, all pairs
    val sets = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.shingle_hashes(
          Dedup.normalized(col("text")), 5, word = true).as("g"))
      .as[(Long, Seq[Long])].collect().map { case (i, g) => i -> g.toSet }
    val truth = (for {
      (a, ga) <- sets; (b, gb) <- sets if a < b
      i = (ga intersect gb).size
      if i >= 0.6 * math.min(ga.size, gb.size)
    } yield (a, b)).toSet
    assert(got === truth, s"prefix filtering diverged from brute force")
  }

  test("clusterCohesion: a clique is dense with triangles, a chain is " +
      "sparse with none, singletons are zeroed") {
    // cluster A: 4-clique (ids 1-4); cluster B: 4-chain (ids 10-13);
    // id 20: singleton
    val clique = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L))
    val pairs = (clique ++ chain).toDF("idA", "idB")
    val clusters = ((1L to 4L).map((_, 1L)) ++ (10L to 13L).map((_, 10L)) ++
      Seq((20L, 20L))).toDF("doc_id", "cluster_id")
    val got = Dedup.clusterCohesion(pairs, clusters, "doc_id")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // clique: 6 edges over C(4,2)=6 -> density 1.0, C(4,3)=4 triangles
    assert(got(1L) === ((4L, 6L, 4L, 1.0)))
    // chain: 3 edges over 6 -> 0.5, no triangles
    assert(got(10L) === ((4L, 3L, 0L, 0.5)))
    // singleton: all zeros, no NaN from the 0/0 guard
    assert(got(20L) === ((1L, 0L, 0L, 0.0)))
  }

  test("winnowingPairs: copies share most fingerprints, unrelated docs none; " +
      "the bucket cap drops a boilerplate fingerprint") {
    val base = "the zebra quilt jumps over seventeen lazy xylophones while " +
      "quietly plotting a grand escape from the dusty barn"
    val docs = Seq(
      (1L, base),
      (2L, "PREFIX " + base), // near-copy: shares every interior run
      (3L, "totally disjoint content qqq www eee rrr ttt yyy uuu iii ooo ppp"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowingPairs(docs, "doc_id", "text",
        k = 8, window = 4, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    assert(got.head._3 >= 5) // the long shared run yields many shared minima

    // cap: with maxBucketSize=1 every fingerprint shared by both copies
    // sits in a size-2 bucket and is dropped -> no pairs survive
    val capped = Dedup.winnowingPairs(docs, "doc_id", "text",
      k = 8, window = 4, minShared = 1, maxBucketSize = 1)
    assert(capped.count() === 0L)

    // plan shape: no cartesian product anywhere
    val plan = Dedup.winnowingPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  test("winnowingPairs skew guard: over-cap boilerplate fingerprints are " +
      "dropped with the observe metric fired, genuine copies survive " +
      "(VERDICT r10 #1 — the default cap must actually guard)") {
    // 30 documents sharing ONE boilerplate sentence: every fingerprint
    // they produce sits in a size-30 bucket, over the cap of 10, so all
    // C(30,2)=435 boilerplate pairs are dropped. The genuine near-copy
    // pair has document-specific grams in size-2 buckets and survives.
    val boiler = "all rights reserved contact us terms of service " +
      "privacy policy cookie notice"
    val clones = (100L to 129L).map(i => (i, boiler)).toDF("doc_id", "text")
    val uniq = Seq(
      (1L, "the zebra quilt jumps over seventeen lazy xylophones while " +
        "quietly plotting a grand escape from the dusty barn"),
      (2L, "PREFIX the zebra quilt jumps over seventeen lazy xylophones " +
        "while quietly plotting a grand escape from the dusty barn"))
      .toDF("doc_id", "text")
    val (got, metrics) = observedMetrics("winnow_buckets") {
      Dedup.winnowingPairs(clones.unionByName(uniq), "doc_id", "text",
          k = 8, window = 4, minShared = 2, maxBucketSize = 10)
        .as[(Long, Long, Long)].collect()
    }
    val dropped = metrics.get("winnow_buckets").map(_.getAs[Long]("dropped_buckets"))
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)),
      s"only the genuine pair must survive the cap: ${got.toSeq}")
    assert(dropped.exists(_ >= 1L), s"expected dropped_buckets >= 1, got $dropped")
  }

  test("dedupSensitivity: per-threshold counts equal single-threshold runs, " +
      "zero-pair thresholds emit zero rows, ascending output") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "today while nothing else happens anywhere nearby at all"
    val docs = Seq(
      (1L, base),
      (2L, "PREFIX " + base),                       // high-jaccard copy
      (3L, base.replace("quick", "quack").replace("lazy", "dozy")
        .replace("fox", "ox")),                     // mid-jaccard variant
      (4L, "totally disjoint content qqq www eee rrr ttt yyy uuu iii ooo ppp"))
      .toDF("doc_id", "text")
    val ts = Seq(0.5, 0.8, 0.999)
    val got = Dedup.dedupSensitivity(docs, "doc_id", "text", ts)
      .orderBy("threshold")
      .as[(Double, Long, Long)].collect()
    assert(got.map(_._1).toSeq === ts, "every threshold must emit a row")
    // each curve point equals the corresponding single-threshold run
    ts.zip(got).foreach { case (t, (_, nPairs, nDocs)) =>
      val single = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          threshold = t).select("idA", "idB")
        .as[(Long, Long)].collect()
      assert(nPairs === single.length.toLong,
        s"pairs at $t: curve=$nPairs single=${single.length}")
      assert(nDocs === single.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong,
        s"docs at $t: curve=$nDocs")
    }
    // the curve is monotone non-increasing
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq)
    assert(got.last._2 === 0L, "0.999 must have no pairs on this fixture")
  }

  test("winnowedSpanDedup: restricted pass equals the full span-dedup pass " +
      "on shortlisted docs, unshortlisted docs never enter the gram stage") {
    // docs 1/2 are genuine near-copies (doc 2 drops the first word, gains
    // a unique tail — the d07/d18 fixture shape); doc 3 is unrelated and
    // shares no dup grams, so restricting span dedup to the shortlist
    // {1, 2} must reproduce the full corpus pass row-for-row on {1, 2}
    val base = "the zebra quilt jumps over seventeen lazy xylophones while " +
      "quietly plotting a grand escape from the dusty barn tonight"
    val all = Seq(
      (1L, base),
      (2L, base.dropWhile(_ != ' ').trim + " uniquetail"),
      (3L, "totally disjoint content qqq www eee rrr ttt yyy uuu iii ooo ppp"))
      .toDF("doc_id", "text")
    val composed = Dedup.winnowedSpanDedup(all, "doc_id", "text",
        k = 8, window = 4, minShared = 2, n = 4)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    assert(composed.map(_._1).toSeq === Seq(1L, 2L),
      s"only the shortlisted pair may appear: ${composed.toSeq}")
    val full = Dedup.removeDuplicatedSpans(all, "doc_id", "text", n = 4)
      .filter(col("doc_id") < 3L)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    assert(composed.toSeq === full.toSeq,
      "restricted span dedup must equal the full pass on shortlisted docs")
    // the copy's duplicated leading span was actually cut
    assert(composed.exists(r => r._4 > 0), s"no span removed: ${composed.toSeq}")
  }

  test("crossNearDupPairs: pairs form only ACROSS sides, ids may collide " +
      "between sides, and jaccard verification is exact") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val left = Seq(
      (1L, base),
      (2L, "completely unrelated text about parquet row groups and shuffles"),
      (3L, base + " extended")).toDF("doc_id", "text")
    // right reuses id 1 for a DIFFERENT doc — sides must never mix ids
    val right = Seq(
      (1L, base + " today"),
      (9L, "nothing like anything on the left at all whatsoever")
    ).toDF("doc_id", "text")
    val got = Dedup.crossNearDupPairs(left, right, "doc_id", "text",
        threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    // near-identical cross pairs only; (1,9)/(2,*) dissimilar; the two
    // left-side near-dups 1 and 3 must NOT pair with each other
    assert(got.contains((1L, 1L)))
    assert(got.forall { case (a, b) => Set(1L, 3L).contains(a) && b == 1L })
  }

  test("fuzzyDecontaminate drops exactly the train docs near a bench doc " +
      "and passes schema through") {
    import spark.implicits._
    val mk = (s: String) => s"$s shared core sentence with many common words here"
    val train = Seq(
      (1L, mk("alpha"), "en"), (2L, mk("beta"), "en"),
      (3L, "totally different content nothing shared at all", "de")
    ).toDF("doc_id", "text", "lang")
    val bench = Seq((100L, mk("alpha"))).toDF("doc_id", "text")
    val kept = Dedup.fuzzyDecontaminate(train, bench, "doc_id", "text",
        threshold = 0.6)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(!kept.contains(1L), "near-dup of bench must drop")
    assert(kept.contains(3L), "unrelated doc must survive")
    assert(kept.get(3L) === Some("de"))
  }

  test("dedupLinesRebuild: shared boilerplate survives only at its first " +
      "occurrence; within-doc repeats keep one; all-dup docs vanish") {
    val corpus = Seq(
      (1L, "alpha beta\nfooter line\nalpha beta"), // within-doc repeat
      (2L, "gamma delta\nfooter line"),            // footer already seen in 1
      (3L, "footer line\nalpha beta"),             // every line seen before
      (4L, "  Footer   LINE \nepsilon")            // case/ws variant of footer
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesRebuild(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 2L, "alpha beta\nfooter line")),
      "first doc keeps one copy of its repeated line plus the footer")
    assert(out(2L) === ((2L, 1L, "gamma delta")),
      "footer drops where it is a repeat")
    assert(!out.contains(3L), "doc with zero surviving lines is absent")
    assert(out(4L) === ((2L, 1L, "epsilon")),
      "dedup key is the NORMALIZED line, output keeps original text")
  }

  test("dedupLinesRebuild plan: no window, no cartesian; the only join is " +
      "the doc-keyed reconstruction") {
    val corpus = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    val df = Dedup.dedupLinesRebuild(corpus, "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Cartesian"), plan)
    // one join total: kept-positions back onto the docs frame
    assert("Join".r.findAllIn(
      df.queryExecution.optimizedPlan.toString).size === 1,
      df.queryExecution.optimizedPlan.toString)
  }

  test("exactSubstrDedup: a 7-token cross-doc repeat below d07's default " +
      "gram width is caught exactly; the canonical first occurrence " +
      "survives") {
    import spark.implicits._
    val repeat = "alpha bravo charlie delta echo foxtrot golf" // 7 tokens
    val df = Seq(
      (1L, s"zero $repeat one two"),
      (2L, s"nine eight $repeat seven")).toDF("doc_id", "text")
    // d07 at its default width 8 cannot see a 7-token repeat at all
    val d07 = Dedup.removeDuplicatedSpans(df, "doc_id", "text", n = 8)
    assert(d07.filter($"n_removed" > 0).count() === 0,
      "fixture sanity: the gram-width operator must miss this repeat")
    val got = Dedup.exactSubstrDedup(df, "doc_id", "text", minLen = 7)
      .as[(Long, String, Int, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L,
      "zero alpha bravo charlie delta echo foxtrot golf one two", 10, 0, 0L)),
      "canonical (first) occurrence must survive untouched")
    assert(got(2L) === ((2L, "nine eight seven", 10, 7, 1L)),
      "non-canonical occurrence trims exactly the 7-token span")
  }

  test("exactSubstrDedup: maximal spans — two separated non-canonical " +
      "repeats in one doc are two islands; a length-(minLen-1) repeat " +
      "is untouched; short docs pass through") {
    import spark.implicits._
    val r1 = "a1 a2 a3 a4 a5 a6"
    val r2 = "b1 b2 b3 b4 b5 b6"
    val five = "c1 c2 c3 c4 c5"
    val df = Seq(
      (1L, s"$r1 mid1 mid2 $r2"), // canonical for both runs
      (2L, s"x $r1 y"),
      (3L, s"z $r2 w"),
      (9L, s"$r1 kk $r2"), // both runs again -> two separate islands
      (4L, s"$five p q"),
      (5L, s"r s $five"), // 5-token repeat < minLen: out of scope
      (6L, "tiny doc")) // shorter than minLen: pass-through
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrDedup(df, "doc_id", "text", minLen = 6)
      .as[(Long, String, Int, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._4 === 0 && got(1L)._5 === 0L,
      "doc 1 holds the canonical occurrence of both runs")
    assert(got(2L) === ((2L, "x y", 8, 6, 1L)))
    assert(got(3L) === ((3L, "z w", 8, 6, 1L)))
    assert(got(9L) === ((9L, "kk", 13, 12, 2L)),
      "two disjoint removed runs must count as two maximal spans")
    assert(got(4L)._4 === 0 && got(5L)._4 === 0,
      "a repeat shorter than minLen is not a duplicated span")
    assert(got(6L) === ((6L, "tiny doc", 2, 0, 0L)))
    assert(Dedup.exactSubstrDedup(df.filter($"doc_id" > 99),
      "doc_id", "text", minLen = 6).count() === 0, "empty corpus")
  }

  test("exactSubstrDedupIterated: a splice-junction duplicate that pass 1 " +
      "CREATES is cleared by pass 2, and n_residual certifies convergence") {
    import spark.implicits._
    val cRun = "c1 c2 c3 c4 c5 c6"
    val dRun = "d1 d2 d3 d4 d5 d6"
    val df = Seq(
      (1L, s"$cRun mid $dRun"), // canonical for both runs
      (4L, s"i1 i2 i3 $cRun $dRun k1 k2 k3"), // splices to i1..k3 after pass 1
      (5L, "i1 i2 i3 k1 k2 k3")) // equals doc 4's pass-1 RESIDUE only
      .toDF("doc_id", "text")
    // one pass: doc 5 is untouched (its text duplicates nothing yet)
    val p1 = Dedup.exactSubstrDedup(df, "doc_id", "text", minLen = 6)
      .as[(Long, String, Int, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(p1(4L)._2 === "i1 i2 i3 k1 k2 k3" && p1(4L)._4 === 12)
    assert(p1(5L)._4 === 0, "pass 1 cannot see the splice-junction dup")
    // two passes: doc 4's residue (smaller id) is canonical, doc 5 empties
    val p2 = Dedup.exactSubstrDedupIterated(df, "doc_id", "text",
        minLen = 6, passes = 2)
      .as[(Long, String, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(p2(1L) === ((1L, s"$cRun mid $dRun", 13, 0, 0)))
    assert(p2(4L) === ((4L, "i1 i2 i3 k1 k2 k3", 18, 12, 0)),
      "pass-1 removals carry into the total; residue is canonical")
    assert(p2(5L) === ((5L, "", 6, 6, 6)),
      "the splice-junction duplicate clears only in pass 2")
  }

  test("exactSubstrDedup at minLen == the gram width reproduces " +
      "removeDuplicatedSpans on a dense low-vocab corpus (exact " +
      "equivalence classes replace the 64-bit hashes)") {
    import spark.implicits._
    // two-word vocabulary, 16 tokens per doc: duplicated 8-grams are
    // everywhere and overlap messily — both operators must agree on
    // every covered position and every canonical pick
    val rnd = new scala.util.Random(7)
    val docs = (0L until 30L).map(i =>
      (i, (0 until 16).map(_ => if (rnd.nextBoolean()) "a" else "b")
        .mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val exact = Dedup.exactSubstrDedup(df, "doc_id", "text", minLen = 8)
      .select("doc_id", "text_kept", "n_tokens", "n_removed")
      .as[(Long, String, Int, Int)].collect().toSet
    val hashed = Dedup.removeDuplicatedSpans(df, "doc_id", "text", n = 8)
      .as[(Long, String, Int, Int)].collect().toSet
    assert(exact === hashed)
    assert(exact.exists(_._4 > 0), "fixture sanity: spans were removed")
  }

  test("tfidfAllPairs equals the brute-force weighted-cosine truth " +
      "(prefix filtering lossless), threshold gates, no cartesian") {
    import spark.implicits._
    val base = "the zebra quilt jumps over seventeen lazy xylophones " +
      "while quietly plotting a grand escape from the dusty barn today"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra trailing words appended here"), // near-copy
      (3L, "totally disjoint content qqq www eee rrr ttt yyy uuu iii " +
        "ooo ppp aaa sss ddd fff ggg"),
      (4L, "short"), // under the gram width: no features
      (5L, base)) // exact copy of 1
      .toDF("doc_id", "text")
    def brute(th: Double): Map[(Long, Long), Double] = {
      // the oracle computation, in-spec: same grams, idf, DECIMAL routing
      val grams = docs.select(col("doc_id"),
          explode(expr("CASE WHEN size(split(text, ' ')) >= 5 THEN " +
            "transform(sequence(1, size(split(text, ' ')) - 4), " +
            "i -> array_join(slice(split(lower(trim(text)), ' '), i, 5), ' ')) " +
            "ELSE array() END")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      val dfq = grams.groupBy("g").agg(count(lit(1)).as("df"))
      val n = docs.select(countDistinct(col("doc_id")).as("n"))
      val w = grams.join(dfq, "g").crossJoin(n)
        .select(col("doc_id"), col("g"),
          (col("tf").cast("double") *
            log((col("n").cast("double") + 1.0) /
              (col("df").cast("double") + 1.0))).as("w"))
      val dec = org.apache.spark.sql.types.DecimalType(28, 9)
      val nrm = w.groupBy("doc_id")
        .agg(sum(round(col("w") * col("w"), 9).cast(dec)).as("n2"))
      val wn = w.join(nrm, "doc_id")
        .select(col("doc_id"), col("g"),
          (col("w") / sqrt(col("n2").cast("double"))).as("wn"))
      wn.as("a").join(wn.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("idA"), col("b.doc_id").as("idB"))
        .agg(sum(round(col("a.wn") * col("b.wn"), 9).cast(dec)).as("c"))
        .filter(col("c").cast("double") >= th)
        .select(col("idA"), col("idB"),
          round(col("c").cast("double"), 6).as("cos"))
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }
    for (th <- Seq(0.5, 0.9)) {
      val got = Dedup.tfidfAllPairs(docs, "doc_id", "text", threshold = th)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got === brute(th), s"engine != brute force at threshold $th")
    }
    // the exact copy scores 1.0 (modulo per-term rounding); the
    // near-copy pairs at 0.5 (its unique high-idf grams dilute the
    // shared low-idf mass — idf weighting working as designed) but not
    // at 0.9; the disjoint doc pairs with nothing anywhere
    val got9 = Dedup.tfidfAllPairs(docs, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got9((1L, 5L)) - 1.0) < 1e-6)
    assert(got9.keySet === Set((1L, 5L)))
    val got5 = Dedup.tfidfAllPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got5.contains((1L, 2L)) && got5.contains((2L, 5L)),
      "near-copies must pair at 0.5")
    assert(!got5.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "the disjoint doc pairs with nothing")
    // skew cap: with maxBucketSize=1 every gram shared by the three
    // copies sits in an over-cap indexed bucket and all pairs drop
    val capped = Dedup.tfidfAllPairs(docs, "doc_id", "text",
      threshold = 0.9, maxBucketSize = 1)
    assert(capped.count() === 0L)
    // unigram feature space still works (the degenerate-vocab caveat is
    // documented, not broken)
    val uni = Dedup.tfidfAllPairs(docs, "doc_id", "text",
        threshold = 0.99, shingleWidth = 1)
      .as[(Long, Long, Double)].collect()
    assert(uni.exists(r => r._1 == 1L && r._2 == 5L))
    // plan shape: no cartesian anywhere
    val plan = Dedup.tfidfAllPairs(docs, "doc_id", "text", threshold = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
    intercept[IllegalArgumentException] {
      Dedup.tfidfAllPairs(docs, "doc_id", "text", threshold = 1.5)
    }
  }

  test("occurrenceExpand: occurrences expand to distinct elements; " +
      "set Jaccard of expansions is the multiset measure") {
    import graft.functions.GraftFunctions.{jaccard_sorted, occurrence_expand, shingle_hashes}
    val df = Seq(
      (1L, "a a b"),   // multiset {a:2, b:1}
      (2L, "a b"),     // {a:1, b:1} -> I = 2, U = 3
      (3L, "a a b a a b"), // doc 1 doubled -> vs doc 1: I = 3, U = 6
      (4L, "")).toDF("id", "text")
    val sets = df.select(col("id"),
      occurrence_expand(shingle_hashes(Dedup.normalized(col("text")), 1,
        word = true, distinct = false)).as("h"))
    val sizes = sets.select(col("id"), size(col("h")))
      .as[(Long, Int)].collect().toMap
    assert(sizes === Map(1L -> 3, 2L -> 2, 3L -> 6, 4L -> 0))
    def j(a: Long, b: Long): Double = sets.filter(col("id") === a)
      .crossJoin(sets.filter(col("id") === b).select(col("h").as("h2")))
      .select(jaccard_sorted(col("h"), col("h2"))).as[Double].head()
    assert(math.abs(j(1L, 2L) - 2.0 / 3.0) < 1e-12)
    assert(j(1L, 3L) === 0.5)
    assert(j(1L, 1L) === 1.0)
  }

  test("weightedNearDupPairs: tf-aware — a doubled copy is NOT a near-dup " +
      "of its original, a one-word edit is") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "beta gamma delta epsilon zeta eta theta iota kappa"), // drop 1st: wJ = 9/10
      (3L, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 2).trim), // doubled: wJ = 0.5
      (4L, "totally unrelated words here")).toDF("doc_id", "text")
    // shingleK = 1: token-level multisets, the hand-checkable case
    val pairs = Dedup.weightedNearDupPairs(base, "doc_id", "text",
        threshold = 0.7, shingleK = 1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.keySet === Set((1L, 2L)), s"got $pairs")
    assert(pairs((1L, 2L)) === 0.9)
    // but the doubled copy IS found at a threshold that admits 0.5
    val loose = Dedup.weightedNearDupPairs(base, "doc_id", "text",
        threshold = 0.45, shingleK = 1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(loose.get((1L, 3L)) === Some(0.5))
  }

  test("weightedNearDupPairs at shingleK=3: repeated-shingle multiplicity " +
      "halves the doubled-copy score") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq(
      (1L, words),
      (2L, (words + " " + words)),   // every 3-shingle tf doubles + 2 seam shingles
      (3L, "beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val got = Dedup.weightedNearDupPairs(base, "doc_id", "text",
        threshold = 0.4)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // (1,2): I = 8 original shingles, TA = 8, TB = 18 -> 8/18
    assert(got.get((1L, 2L)).exists(j => math.abs(j - 8.0 / 18.0) < 1e-9),
      s"got $got")
    // (1,3): drop-first loses 1 shingle: 7/8
    assert(got.get((1L, 3L)).exists(j => math.abs(j - 7.0 / 8.0) < 1e-9))
  }
}
