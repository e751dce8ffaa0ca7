package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale-critical properties of headline
  * plans (pushdown reaching the scan, column pruning, broadcast for dims,
  * no accidental cartesian joins) are pinned here so a refactor can't
  * silently regress them. These assert on `explain` output — the same
  * evidence `graft.Explain` prints for human review.
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q03: whereClause predicates are pushed into the parquet scan") {
    val p = plan("q03_pushdown_filter")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThan(l_quantity,45.0)"), s"missing pushed filter in:\n$p")
  }

  test("q02: projection prunes the scan to selected columns") {
    val p = plan("q02_projection")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"scan not pruned:\n$p")
  }

  test("j01: dimension join broadcasts, aggregation is partial+final") {
    val p = plan("j01_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"))
    // partial then final hash aggregation (map-side combine)
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q15: counter pre-agg is hash aggregation keyed on PK, no sort") {
    val p = plan("q15_counter_preagg")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
  }

  test("q13: keep-last upsert aggregates (max_by), not a global sort-window") {
    val p = plan("q13_upsert_keep_last")
    assert(!p.contains("Window"), s"keep-last regressed to sort-window:\n$p")
  }

  test("LSH operators never produce a cartesian or nested-loop join") {
    Seq("d03_minhash_pairs", "d04_simhash_pairs", "s03_cosine_neardup",
        "d11_containment", "d23_weighted_jaccard_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("d11 containment: prefix-filtered candidate join, no window, " +
      "skew guard on by default") {
    val p = plan("d11_containment")
    assert(!p.contains("Window"), s"window crept into containment:\n$p")
    assert(p.contains("CollectMetrics") &&
      p.contains("containment_skew_guard"),
      s"containment skew guard missing:\n$p")
  }

  test("LSH-family skew guards are on by default (CollectMetrics in plan)") {
    Seq("d03_minhash_pairs", "d04_simhash_pairs", "s03_cosine_neardup",
        "d23_weighted_jaccard_pairs").foreach { q =>
      val p = plan(q)
      assert(p.contains("CollectMetrics"), s"$q missing skew-guard metrics:\n$p")
    }
  }

  test("cosine near-dup bucket self-join is skinny (no vectors on the join)") {
    val df = SparkEntry.queries("s03_cosine_neardup")(spark, dir)
    val p = df.queryExecution.optimizedPlan.toString
    // the embedding payload must not appear among the self-join keys side;
    // it re-joins by id afterwards — assert the candidate join carries only
    // bucket+id by checking no Join node outputs two embedding columns
    // before the final scoring projection
    assert(p.contains("__bucket"), s"bucketing missing:\n$p")
  }

  test("t08 sequence packing windows per group — never a single global sort") {
    val p = plan("t08_seq_pack")
    assert(p.contains("hashpartitioning(pack_group"),
      s"window not partitioned by pack_group:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global sort leaked into the packing plan:\n$p")
  }

  test("ANN top-k ranks via bounded heap aggregate — no per-query Window") {
    // VERDICT r3 #1: a row_number window ships every candidate score to one
    // task per query; the TopKByScore aggregate caps shuffle at k per query
    Seq("s01_ann_bruteforce", "s02_ann_lsh", "s04_ann_ivf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q ranks via a window again:\n$p")
      assert(p.contains("top_k_by") || p.contains("TopKByScore"),
        s"$q missing the bounded top-k aggregate:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q top-k not aggregated map-side:\n$p")
    }
  }

  test("kernel expressions appear in the minhash plan (not HOF lambdas)") {
    // the registered query materializes its fingerprint snapshots at
    // construction (the r18 fingerprints-once change), so the kernels
    // are inspected through the lazy variant the audit controls
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val df = graft.operators.Dedup.minhashNearDupPairs(docs, "doc_id",
      "text", threshold = 0.7, materializeIntermediates = false)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("minhash_sig") || p.contains("MinHashSig"))
    assert(p.contains("shingle_hashes") || p.contains("ShingleHashes"))
  }

  test("bucketed tables join without a shuffle exchange (co-located join)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_b1")
    spark.sql("DROP TABLE IF EXISTS graft_b2")
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_b1")
    (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "w")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_b2")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_b1").join(spark.table("graft_b2"), "k")
      val p = j.queryExecution.executedPlan.toString
      // bucketed scans align partitioning: sort-merge join with NO shuffle
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin"))
      assert(p.contains("Bucketed: true"), s"bucketing not used:\n$p")
      assert(j.count() === 1000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("d06 connected components: the propagation round is equi-joins, never cartesian") {
    // the loop checkpoints every round, so the FINAL frame's plan is just
    // a scan of the last checkpoint — audit the round builder itself
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "lbl")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    val p = graft.operators.Dedup.propagationRound(labels, edges)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in CC round:\n$p")
    // s06's bruteForce crossJoin(broadcast) is the INTENTIONAL exception —
    // the CC round's edge/label joins must all stay hash-keyed
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in CC round:\n$p")
  }

  test("partition pruning: whereClause on a partition column prunes the scan " +
      "(VERDICT r4 #7)") {
    // partitioned variant of the orders bench table (fixtures are read-only
    // single files, so the layout is derived here): 5 o_orderpriority dirs
    val tmp = tempDir("partprune")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.partitionBy("o_orderpriority").parquet(s"$tmp/src/orders_part.parquet")
    val cfg = graft.model.MigrationConfig(
      graft.model.TableRef(path = s"$tmp/src"),
      graft.model.TableRef(path = s"$tmp/none"), Nil)
    val planned = graft.pipeline.MigrationPlanner.plan(spark, cfg,
      graft.model.TableMigrationDef(
        tableName = "orders_part",
        whereClause = Some("o_orderpriority = '1-URGENT'")))
    val scan = planned.data.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no file scan in plan"))
    assert(scan.metadata("PartitionFilters").contains("o_orderpriority"),
      s"predicate did not reach PartitionFilters: ${scan.metadata}")
    // the filter prunes the LISTING, not just the rows: 1 of 5 partition
    // dirs read — at 100 TB this is the difference between touching one
    // partition's files and listing-then-discarding the other 80%.
    // collect() drives THIS queryExecution (count() would plan a fresh one
    // whose scan metrics are different accumulators)
    val rows = planned.data.collect()
    assert(rows.length.toLong ===
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter("o_orderpriority = '1-URGENT'").count())
    assert(scan.metrics("numPartitions").value === 1L,
      s"expected 1 of 5 partition dirs read, got ${scan.metrics("numPartitions").value}")
  }

  test("t22 frequency cap ranks via the bounded heap — no per-key window") {
    // a row_number window would ship every row of a hot key to one task;
    // the cap must stay a partial-aggregable heap + skinny semi join
    val p = plan("t22_frequency_cap")
    assert(!p.contains("Window"), s"frequency cap ranks via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"missing the bounded top-k aggregate:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"cap not aggregated map-side:\n$p")
  }

  test("d08/streaming: incremental near-dup never shuffles the corpus index " +
      "(broadcast semi-join restriction, VERDICT r6 #3)") {
    // the persistent LSH index is corpus-sized (billions of rows at 100 TB);
    // candidate generation must restrict it to the delta's bucket keys with
    // a broadcast semi join BEFORE anything shuffles — a ShuffleExchange
    // with the index scan in its subtree means every micro-batch re-shuffles
    // the whole corpus index again
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.{col, concat, lit}
    val tmp = tempDir("ncidx")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.operators.Dedup.lshBuckets(docs, "doc_id", "text")
      .write.parquet(s"$tmp/index")
    docs.write.parquet(s"$tmp/docs")
    val delta = docs.limit(20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // materialization off: the audit needs the WHOLE lazy plan — the
      // production default localCheckpoints the capped/candidate frames,
      // which would hide the restriction subtree behind LogicalRDD scans
      val pairs = graft.operators.Dedup.minhashNearDupPairsIncremental(
        spark.read.parquet(s"$tmp/index"), spark.read.parquet(s"$tmp/docs"),
        delta, "doc_id", "text", materializeIntermediates = false)
      val plan = pairs.queryExecution.executedPlan
      def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("/index"))
          case _ => false
        }
      // an UNRESTRICTED index scan: reachable without passing through the
      // broadcast left-semi restriction (shuffles above the restriction
      // move touched-bucket rows only — those are fine and expected)
      def unrestricted(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => false
          case f if isIndexScan(f) => true
          case other => other.children.exists(unrestricted)
        }
      val offending = plan.collect {
        case e: ShuffleExchangeExec if unrestricted(e) => e
      }
      assert(offending.isEmpty,
        s"corpus index shuffled before the semi-join restriction " +
          s"${offending.size} time(s):\n$plan")
      val semi = plan.collect {
        case j: BroadcastHashJoinExec
          if j.joinType.sql == "LEFT SEMI" && j.exists(isIndexScan) => j
      }
      assert(semi.nonEmpty,
        s"index not restricted via broadcast left-semi join:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("j05: as-of join is one keyed window — no range join, no cartesian") {
    // union-merge as-of: the only wide operations allowed are the key
    // shuffle feeding one Window; a SortMergeJoin/BNLJ here would mean the
    // formulation regressed to a per-pair range join (O(left × right) per
    // key at corpus scale)
    val p = plan("j05_asof_join")
    assert(p.contains("Window"), s"as-of lost its running-last window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in as-of plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in as-of plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"as-of regressed to a pair join:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window not partitioned by the as-of key:\n$p")
  }

  test("bloom screen probe is map-only: no join, no exchange, kernel call") {
    // the sketch is a collected literal; the corpus-sized probe must be a
    // pure scan+project (a join or shuffle here would mean the screen
    // regressed to carrying the sketch as data)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val eval = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 3)
    val p = graft.operators.TextAnalysis
      .decontaminateBloom(docs, eval, "doc_id", "text", expectedGrams = 10000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"shuffle in the probe plan:\n$p")
    assert(!p.contains("Join"), s"join in the probe plan:\n$p")
    assert(p.contains("bloom_count_contained"), s"kernel probe missing:\n$p")
  }

  test("s07 centroids: one shuffle, partial+final hash aggregation") {
    val p = plan("s07_label_centroids")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one keyed shuffle:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"aggregation not map-side combined:\n$p")
  }

  test("s08 knn: bounded-heap ranking and broadcast vote join — no window") {
    val p = plan("s08_knn_classify")
    assert(!p.contains("Window"), s"knn ranks via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"missing bounded top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"neighbor list not broadcast back to labels:\n$p")
  }

  test("j06: range join buckets to an equi-join — no nested-loop pair scan") {
    val p = plan("j06_range_join")
    assert(!p.contains("CartesianProduct"), s"cartesian in range-join plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested-loop:\n$p")
    assert(p.contains("__bucket"), s"bucketized equi-key missing:\n$p")
    assert(p.contains("CollectMetrics"),
      s"interval-explosion guard metrics missing:\n$p")
  }

  test("d07 span dedup: equi-joins on skinny keys only, no window, no cartesian") {
    val p = plan("d07_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair scan in span-dedup plan:\n$p")
    assert(!p.contains("Window"), s"canonical pick regressed to a window:\n$p")
    assert(p.contains("shingle_hashes"), s"gram kernel missing from plan:\n$p")
  }

  test("d20 exact-substr: window keying is ONE map-side pass (no join, no " +
      "shuffle before the keyed snapshot); the class pick and rebuild tail " +
      "are window/cartesian/nested-loop-free") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq((1L, "a b c a b c d"), (2L, "x a b c y"))
      .toDF("doc_id", "text")
    // the keyed frame, built exactly as the operator builds it: per-doc
    // token array sliced into every full-length window, map-side only —
    // the former prefix-doubling loop's per-round joins must not return
    val minLen = 4
    val keyed = docs
      .select(col("doc_id"),
        split(graft.operators.Dedup.normalized(col("text")), " ").as("__toks"))
      .filter(size(col("__toks")) >= minLen)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__toks) - $minLen), " +
          s"i -> array_join(slice(__toks, i + 1, $minLen), ' '))"))
        .as(Seq("__pos", "__k")))
    val p = keyed.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"shuffle in the window-keying pass:\n$p")
    assert(!p.contains("Join"), s"join in the window-keying pass:\n$p")
    // the full operator's final frame (post-checkpoint rebuild tail)
    val full = graft.operators.Dedup.exactSubstrDedup(
      docs, "doc_id", "text", minLen = 4)
    val fp = full.queryExecution.executedPlan.toString
    assert(!fp.contains("CartesianProduct") &&
      !fp.contains("BroadcastNestedLoopJoin") && !fp.contains("Window"),
      s"rebuild tail regressed:\n$fp")
  }

  test("z01 z-order key is map-only over the scan (bounds come from plan time)") {
    val p = plan("z01_zorder_layout")
    assert(!p.contains("Exchange"), s"shuffle in the key computation:\n$p")
    assert(!p.contains("Join"), s"join in the key computation:\n$p")
    assert(p.contains("interleave_bits"), s"Morton kernel missing:\n$p")
  }

  test("t19 importance scoring is a map-only literal-weight fold — no join") {
    val p = plan("t19_importance")
    assert(!p.contains("Exchange"), s"shuffle in the scoring plan:\n$p")
    assert(!p.contains("Join"), s"join in the scoring plan:\n$p")
    assert(p.contains("shingle_hashes"), s"token-hash kernel missing:\n$p")
  }

  test("c06 representatives rank via the bounded heap — no per-cluster window") {
    // a row_number window would ship every member of a hot cluster to one
    // task; the argmax must stay a partial-aggregable 1-element heap
    val p = plan("c06_cluster_reps")
    assert(!p.contains("Window"), s"representative pick via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"missing the bounded top-k aggregate:\n$p")
  }

  test("t23 overlap probe broadcasts the eval grams — corpus grams never shuffle") {
    val p = plan("t23_overlap_frac")
    assert(p.contains("BroadcastHashJoin"), s"eval gram probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams shuffled for the probe:\n$p")
  }

  test("t24 importance resample applies map-only (scores + coin, no join)") {
    // the min/max scale collected at plan time; the fingerprint coin
    // derives from the same text column in the same pass — the frame the
    // user consumes must be scan + project only
    val p = plan("t24_importance_resample")
    assert(!p.contains("Exchange"), s"shuffle in the resample apply:\n$p")
    assert(!p.contains("Join"), s"join in the resample apply:\n$p")
  }

  test("c07 curation pipeline: no cartesian or nested-loop stage anywhere") {
    // the production query eagerly localCheckpoints its two reused stage
    // outputs, which executes those stages at construction time and hides
    // them behind LogicalRDD scans — the rendered plan would only ever
    // show the map-only resample tail. Audit the unmaterialized DAG so
    // the quality gate, contamination probe, decontamination anti-join
    // and dedup aggregate are all visible to the assertions.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = SparkEntry.c07Pipeline(docs, materializeIntermediates = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in the pipeline:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    // the stages the tail-only audit could never see: the eval-gram probe
    // must broadcast and the decon drop must stay a left-anti join
    assert(p.contains("BroadcastHashJoin"), s"contamination probe not broadcast:\n$p")
    assert(p.contains("LeftAnti"), s"decontamination drop not an anti join:\n$p")
  }

  test("c08 curriculum apply is map-only (boundaries are plan-time state)") {
    // the histogram aggregate ran at plan-construction time; the frame the
    // user consumes must be scan + project only — no join against a
    // boundary table, no window, no re-shuffle of the corpus
    val p = plan("c08_length_curriculum")
    assert(!p.contains("Exchange"), s"shuffle in the bucket apply:\n$p")
    assert(!p.contains("Join"), s"join in the bucket apply:\n$p")
    assert(!p.contains("Window"), s"window in the bucket apply:\n$p")
  }

  test("a06 kmv set ops: bounded heaps, no window, no sort of the hash space") {
    val p = plan("a06_kmv_setops")
    assert(!p.contains("Window"), s"sketching via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"missing the bounded top-k aggregate:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"global sort leaked into the sketch pass:\n$p")
  }

  test("s19 ivf-pq: list-keyed equi-join for ADC, bounded heaps, no window, " +
      "no cartesian") {
    val p = plan("s19_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), s"cartesian in ivf-pq:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    // both the ADC candidate ranking and the final exact ranking must be
    // the bounded heap, never a per-query row_number window
    assert(!p.contains("Window"), s"ranking via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"missing the bounded top-k aggregate:\n$p")
    // candidate generation joins on the inverted-list id — and must
    // BROADCAST the probed queries: numCentroids distinct keys would cap
    // a shuffle join's parallelism at that many tasks
    assert(p.contains("__list"), s"IVF list equi-key missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"ADC candidate join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join crept into the ANN path:\n$p")
  }

  test("c13 incremental clusters: equi-joins only, no cartesian, no window " +
      "(the propagation runs on the contracted graph, not the corpus)") {
    val p = plan("c13_incremental_clusters")
    assert(!p.contains("CartesianProduct"), s"cartesian in the fold:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    assert(!p.contains("Window"), s"window crept into the relabel:\n$p")
  }

  test("c13 fold never exchanges the corpus-scale base map: the endpoint " +
      "lookup restricts it map-side (broadcast left-semi), and the only " +
      "base exchange in the whole fold feeds the single relabel pass") {
    // the persisted assignment table is corpus-sized; an incremental fold
    // that shuffles it (e.g. a LeftOuter with the base on the broadcastable
    // RIGHT side reversed) costs O(corpus) per daily increment. Two pins:
    //   (a) the endpoint->super lookup reaches the base scan only through a
    //       broadcast LEFT SEMI restriction — no shuffle of the base;
    //   (b) the end-to-end fold's base-touching exchanges partition on
    //       __old only (the relabel join's key — the documented single pass,
    //       which AQE turns into a broadcast at runtime when relabel fits).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("c13base")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.select(col("doc_id"), (col("doc_id") % 7).as("cluster_id"))
      .write.parquet(s"$tmp/base")
    val base = spark.read.parquet(s"$tmp/base")
    val deltaPairs = docs.limit(10)
      .select(col("doc_id").as("idA"), (col("doc_id") + 1000000).as("idB"))
    val deltaVertices = deltaPairs.select(col("idB").as("doc_id"))
    def isBaseScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("/base"))
        case _ => false
      }
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // (a) the lookup seam in isolation (the production fold feeds it to
      // the checkpointed propagation, which hides its subtree)
      val endpoints = deltaPairs.select(col("idA").as("__id"))
        .unionByName(deltaPairs.select(col("idB").as("__id"))).distinct()
      val baseMap = base.select(col("doc_id").as("__id"), col("cluster_id"))
      val lookup = graft.operators.Dedup.endpointSupers(baseMap, endpoints)
      val lp = lookup.queryExecution.executedPlan
      def unrestricted(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => false
          case f if isBaseScan(f) => true
          case other => other.children.exists(unrestricted)
        }
      val offending = lp.collect {
        case e: ShuffleExchangeExec if unrestricted(e) => e
      }
      assert(offending.isEmpty,
        s"base map shuffled before the semi-join restriction:\n$lp")
      assert(lp.collect {
        case j: BroadcastHashJoinExec
          if j.joinType.sql == "LEFT SEMI" && j.exists(isBaseScan) => j
      }.nonEmpty, s"base not restricted via broadcast left-semi:\n$lp")
      // (b) end-to-end: every exchange with the base scan in its subtree
      // partitions on __old — i.e. it is the relabel pass, nothing else
      val folded = graft.operators.Dedup.clusterAssignmentsIncremental(
        base, deltaVertices, deltaPairs, "doc_id")
      val fp = folded.queryExecution.executedPlan
      val baseExchanges = fp.collect {
        case e: ShuffleExchangeExec if e.exists(isBaseScan) => e
      }
      baseExchanges.foreach { e =>
        assert(e.outputPartitioning.toString.contains("__old"),
          s"base exchanged outside the relabel pass:\n$fp")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("s22 persisted-index ANN search keeps the s19 plan shape: " +
      "broadcast probed queries, bounded heaps, no window, no cartesian") {
    val p = plan("s22_ann_index_persist")
    // the persisted code table is __list-partitioned and the probed-list
    // predicate must classify as a PARTITION filter — static pruning of
    // unprobed lists' files, not a row filter over the whole code table
    val pfIdx = p.indexOf("PartitionFilters: [")
    assert(pfIdx >= 0, s"no partitioned scan in the index search:\n$p")
    val pf = p.substring(pfIdx)
    assert(pf.substring(0, pf.indexOf("]")).contains("__list"),
      s"probed-list predicate is not a partition filter on the codes read:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in index search:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    assert(!p.contains("Window"), s"ranking via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"missing the bounded top-k aggregate:\n$p")
    assert(p.contains("__list"), s"IVF list equi-key missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"ADC candidate join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join crept into the ANN path:\n$p")
  }

  test("z06 hilbert key is map-only over the scan (bounds come from plan time)") {
    val p = plan("z06_hilbert_layout")
    assert(!p.contains("Exchange"), s"hilbert keying shuffles:\n$p")
    assert(p.contains("hilbert_index"), s"missing the codegen kernel:\n$p")
  }

  test("z08 n-d hilbert key is map-only over the scan, one codegen kernel call") {
    val p = plan("z08_hilbert_nd")
    assert(!p.contains("Exchange"), s"n-d hilbert keying shuffles:\n$p")
    assert(p.contains("hilbert_index_n"), s"missing the n-d codegen kernel:\n$p")
  }

  test("j09: interval overlap meets in one bucket equi-join — no nested loop") {
    val p = plan("j09_interval_overlap")
    assert(!p.contains("CartesianProduct"), s"cartesian in overlap join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"overlap join fell back to nested-loop:\n$p")
    assert(p.contains("__bucket"), s"bucketized equi-key missing:\n$p")
    // both sides carry their own span guard
    assert(p.contains("interval_overlap_guard_left") &&
      p.contains("interval_overlap_guard_right"),
      s"span guards missing:\n$p")
  }

  test("s14 knn graph: skinny guarded bucket join, bounded heap, no window") {
    val p = plan("s14_knn_graph")
    assert(!p.contains("CartesianProduct"), s"cartesian in the knn graph:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    // a hot bucket must not regress to a per-source row_number window
    assert(!p.contains("Window"), s"ranking via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"missing the bounded top-k aggregate:\n$p")
    assert(p.contains("CollectMetrics"), s"bucket skew guard missing:\n$p")
  }

  test("s15 graph rank: equi-joins and hash aggregates only, no window, " +
      "no cartesian, edge frame materialized once") {
    val p = plan("s15_graph_rank")
    assert(!p.contains("CartesianProduct"), s"cartesian in pagerank:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    assert(!p.contains("Window"), s"window in pagerank:\n$p")
    // the degree-annotated edge list is localCheckpointed: iterations read
    // a materialized RDD scan, not a re-derived knn-graph subtree
    assert(p.contains("Scan ExistingRDD"), s"edge frame not materialized:\n$p")
  }

  test("s16 hubness: one hash aggregate + left join, integers end to end") {
    val p = plan("s16_knn_hubness")
    assert(!p.contains("CartesianProduct"), s"cartesian in hubness:\n$p")
    assert(!p.contains("Window"), s"window in hubness:\n$p")
    assert(p.contains("HashAggregate"), s"in-degree not a hash agg:\n$p")
  }

  test("t25 bpe pairs: domain-bounded hash aggregates, no window, no cartesian") {
    val p = plan("t25_bpe_pairs")
    assert(!p.contains("CartesianProduct"), s"cartesian in bpe pairs:\n$p")
    assert(!p.contains("Window"), s"window in bpe pairs:\n$p")
    // word aggregate then pair aggregate, both partial+final (map-side
    // combined — the shuffle carries the word/pair domain, not tokens)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"missing partial aggregation:\n$p")
  }

  test("e07 rate anomaly: two bucket-bounded aggregates + one equi-join, " +
      "no window, no cartesian") {
    val p = plan("e07_rate_anomaly")
    assert(!p.contains("CartesianProduct"), s"cartesian in rate anomaly:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    assert(!p.contains("Window"), s"window in rate anomaly:\n$p")
    assert(p.contains("HashAggregate"), s"counts not hash aggs:\n$p")
  }

  test("z05 epoch shuffle: per-shard windows only, no global range sort") {
    val p = plan("z05_epoch_shuffle")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"global sort leaked into the epoch shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
    // in-shard rank is a window PARTITIONED BY shard — parallel across
    // shards, never a single global ordering task
    assert(p.contains("Window"), s"missing per-shard rank window:\n$p")
  }

  test("c11 leakage-safe split: equi-joins only, split decision map-only " +
      "over the cluster frame") {
    val p = plan("c11_leakage_safe_split")
    assert(!p.contains("CartesianProduct"), s"cartesian in split:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    // the coin is an expression over cluster_id — no extra shuffle or
    // window beyond what clustering itself needed
    assert(!p.contains("Window"), s"window in split:\n$p")
  }

  test("s11 pca projection apply is map-only (model is plan-time state)") {
    // the moments pass already ran at plan-construction time; the frame the
    // user consumes must be scan + project only — no join against a model
    // table, no re-shuffle of the corpus
    val p = plan("s11_pca_project")
    assert(!p.contains("Exchange"), s"shuffle in the projection apply:\n$p")
    assert(!p.contains("Join"), s"join in the projection apply:\n$p")
  }

  test("s09 semantic dedup: map-only assignment, skinny guarded pair join, no cartesian") {
    val p = plan("s09_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian in semantic dedup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    assert(p.contains("CollectMetrics"), s"skew guard missing:\n$p")
  }

  test("z02 shard layout: per-shard windows, never one global sort") {
    val p = plan("z02_shard_layout")
    assert(p.contains("hashpartitioning(shard"),
      s"window not partitioned by shard:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global sort leaked into the shard layout:\n$p")
  }

  test("m05 frame near-dup: digests join skinny and guarded, payloads never join") {
    val p = plan("m05_frame_neardup")
    assert(!p.contains("CartesianProduct"), s"cartesian in frame near-dup:\n$p")
    assert(p.contains("CollectMetrics"), s"digest skew guard missing:\n$p")
    // the self-join must carry digests, not frame payloads
    assert(p.contains("__d"), s"digest key missing from the plan:\n$p")
  }

  test("m06 frame jaccard: per-asset count joins carry NO broadcast hint " +
      "(counts are corpus-cardinality — the choice belongs to AQE)") {
    val df = SparkEntry.queries("m06_frame_jaccard")(spark, dir)
    // a functions.broadcast() hint survives analysis as ResolvedHint; the
    // per-asset digest-count frame is one row PER ASSET (billions at
    // corpus scale), so a forced broadcast is a driver/executor OOM at
    // 100x — the plan must leave the join strategy to runtime statistics
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"hinted broadcast on a corpus-cardinality frame:\n$analyzed")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in frame jaccard:\n$p")
    assert(p.contains("CollectMetrics"), s"digest skew guard missing:\n$p")
  }

  test("c04 snapshot diff is ONE full-outer join, no window, no cartesian") {
    val p = plan("c04_snapshot_diff")
    assert(p.contains("FullOuter"), s"full-outer join missing:\n$p")
    assert(!p.contains("Window"), s"window crept into the diff:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the diff:\n$p")
  }

  test("translated startsWith MVEL predicate reaches the scan as a pushed filter") {
    // the point of the string-method fast path: an interpreter-fallback
    // UDF never pushes; the translated predicate prunes at the source
    val cfg = graft.model.MigrationConfig(
      graft.model.TableRef(path = dir),
      graft.model.TableRef(path = s"$dir/none"), Nil)
    val planned = graft.pipeline.MigrationPlanner.plan(spark, cfg,
      graft.model.TableMigrationDef(
        tableName = "customer",
        filters = Seq(graft.model.FieldValueFilter(
          "row.c_name.startsWith('Customer#000000001')"))))
    val p = planned.data.queryExecution.executedPlan.toString
    assert(p.contains("StringStartsWith"), s"startsWith not pushed:\n$p")
  }

  test("a05 bottom-k sample ranks via the bounded heap — no per-stratum window") {
    val p = plan("a05_bottomk_sample")
    assert(!p.contains("Window"), s"bottom-k ranks via a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"bounded heap aggregate missing:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"heap not aggregated map-side:\n$p")
  }

  test("e03 resample grid joins on (user, day) — no cartesian, no nested loop") {
    val p = plan("e03_resample_fill")
    assert(!p.contains("CartesianProduct"), s"cartesian in the resample:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
  }

  test("g06 funnel is min-aggregates + equi-joins — no window, no sequence " +
      "sort, no cartesian") {
    val p = plan("g06_funnel")
    assert(!p.contains("Window"), s"funnel ranks via a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in funnel:\n$p")
    // partial+final min aggregation (map-side combine on the event scan)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("g07 cohort retention: no window, equi-join only") {
    val p = plan("g07_cohort_retention")
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan regressed:\n$p")
  }

  test("s23 k-means assignment pass is map-only over centroid literals — " +
      "no join, no window; the update is one hash aggregate") {
    // the final assignment frame IS the query result — its plan must be
    // scan -> project (argmin over literals), nothing else
    val p = plan("s23_kmeans_refine")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("CartesianProduct"),
      s"k-means assignment shuffles or joins:\n$p")
  }

  test("t32 PMI: vocabulary joins only, the scalar totals attach as " +
      "1-row broadcasts, no window") {
    val p = plan("t32_pmi_collocations")
    assert(!p.contains("Window"), s"PMI uses a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in PMI:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar totals should broadcast:\n$p")
  }

  test("d13 source overlap: equi-joins only, no window, no cartesian") {
    val p = plan("d13_source_overlap")
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"d13 plan regressed:\n$p")
  }

  test("c16 mixture sampler ranks via the bounded heap — no window, " +
      "recipe filter is map-only") {
    val p = plan("c16_mixture_sample")
    assert(!p.contains("Window"), s"quota ranking uses a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"bounded heap aggregate missing:\n$p")
    assert(!p.contains("Join"), s"recipe filter should be map-only:\n$p")
  }

  test("v01 DQ audit: FK checks are left-anti joins, no cartesian beyond " +
      "the 1-row total attaches") {
    val p = plan("v01_dq_audit")
    assert(p.contains("LeftAnti"), s"FK check lost its anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the audit:\n$p")
  }

  test("c18 pareto frontier: never a pair join or corpus window — " +
      "equi-joins plus the partition-local prefix-min window only") {
    val df = SparkEntry.queries("c18_pareto_frontier")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in the skyline:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"pair join crept in:\n$p")
    // the only Window is partition-local (partitionBy __pid) — a global
    // ORDER BY window would read "Window [...], [orderCol ASC...]" with
    // no partition spec
    val windows = p.linesIterator.filter(_.contains("Window")).toList
    assert(windows.forall(_.contains("__pid")),
      s"non-partition-local window in the skyline:\n$p")
  }

  test("d16 fuzzy decontamination: LSH cross pairs with the combined skew " +
      "guard, anti-join drop, no cartesian") {
    val p = plan("d16_fuzzy_decontaminate")
    assert(!p.contains("CartesianProduct"), s"cartesian in cross near-dup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    assert(p.contains("CollectMetrics") && p.contains("cross_neardup_skew_guard"),
      s"combined-bucket skew guard missing:\n$p")
    assert(p.contains("LeftAnti"), s"decontamination drop lost its anti join:\n$p")
  }

  test("c19 quantile normalization: windows are source-partitioned or " +
      "partition-local, the position lookup is an equi-join") {
    val df = SparkEntry.queries("c19_quantile_normalize")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastExchange"),
      s"non-broadcast cartesian in quantile normalize:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") || {
      // the 1-row total attach is the only sanctioned nested-loop
      p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1
    }, s"unexpected nested-loop joins:\n$p")
    val windows = p.linesIterator.filter(_.contains("Window ")).toList
    assert(windows.forall(w => w.contains("__pid") || w.contains("src") ||
      w.contains("source")), s"corpus-global window crept in:\n$p")
  }

  test("t36 zipf fit: the rank stage is the bounded heap, not a global " +
      "sort-window over the vocabulary") {
    val df = SparkEntry.queries("t36_zipf_fit")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"vocabulary window crept into zipf:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore") ||
      p.contains("topkbyscore"), s"bounded heap missing from zipf plan:\n$p")
  }

  test("g09 path mining: session aggregation plus bounded heap — no " +
      "corpus-wide window, no cartesian") {
    val df = SparkEntry.queries("g09_path_analysis")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"window crept into path mining:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in path mining:\n$p")
  }

  test("m10 pHash: pixel sampling + DCT are single codegen kernel calls " +
      "in a map-only hash stage (no higher-order transform chain — the " +
      "CollapseProject re-evaluation trap), and the pair join never " +
      "shuffles pixels — no cartesian/window") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val hashes = Multimodal.pHash64(
      Multimodal.pixelGridStub(docs, "doc_id", "text"), "doc_id", "pixels")
    val hp = hashes.queryExecution.executedPlan.toString
    assert(hp.contains("phash_dct") && hp.contains("stretch_pixels"),
      s"pixel/DCT kernels missing from the hash stage:\n$hp")
    assert(!hp.contains("Exchange"),
      s"the hash computation must be map-only over the scan:\n$hp")
    val pairs = Multimodal.pHashPairs(hashes, "doc_id", "phash",
      maxHamming = 12, maxBucketSize = 10000)
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair scan in pHash plan:\n$p")
    assert(!p.contains("Window"), s"window crept into pHash:\n$p")
    // the banded self-join must shuffle hashed signatures, never the
    // 1024-int pixel arrays: no Exchange carries the pixels column
    val shuffles = p.split("\n").filter(_.contains("Exchange"))
    assert(shuffles.nonEmpty && shuffles.forall(!_.contains("pixels")),
      s"pixel arrays on a shuffle boundary:\n$p")
  }

  test("t51 unigram EM round: the Viterbi is ONE codegen kernel pass over " +
      "the vocab frame + one hash aggregate — no window, no join beyond " +
      "the count frame, no cartesian") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val words = Seq(("ab", 3L), ("cd", 1L)).toDF("token", "n")
    val vocab = Seq("a" -> -10L, "b" -> -10L, "ab" -> -5L, "c" -> -10L,
      "d" -> -10L, "cd" -> -5L)
    val round = words.select(col("n"),
        explode(graft.functions.GraftFunctions.unigram_viterbi(
          col("token"), vocab, 4)).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("c"))
    val p = round.queryExecution.executedPlan.toString
    assert(p.contains("unigram_viterbi"), s"Viterbi kernel missing:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("Join"), s"EM round plan regressed:\n$p")
    assert(p.contains("HashAggregate"), s"count frame not hash-agg:\n$p")
  }

  test("t52 unigram encoding is map-only over the scan — one kernel call " +
      "per document, no join, no shuffle") {
    // a parquet-backed input: a local Seq constant-folds the whole
    // deterministic pipeline into a LocalTableScan and hides the plan
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val df = graft.operators.TextAnalysis.unigramEncode(docs, "doc_id",
      "text", Seq("ab" -> -5L, "cd" -> -5L), 4, 20)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("unigram_encode_syms"), s"encode kernel missing:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"shuffle/join in the encode plan:\n$p")
  }

  test("m12 clip alignment: digest-keyed equi-join + hash aggregates — " +
      "no cartesian, no nested loop, payload bytes never cross a shuffle") {
    val p = plan("m12_video_clip_align")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"m12 pair join regressed:\n$p")
    // the digest frame (id, frame_no, digest) is what shuffles — the
    // binary payload column must be projected away before any Exchange
    val exchanges = p.split("Exchange").drop(1)
    assert(exchanges.nonEmpty, "expected shuffles in the alignment plan")
    assert(!exchanges.exists(_.take(400).contains("content#")),
      s"payload bytes on a shuffle boundary:\n$p")
  }

  test("b03 RRF fusion: ranking stays on the bounded heap (no window), " +
      "no cartesian beyond the dense leg's broadcast query attach") {
    val p = plan("b03_rrf_hybrid")
    assert(!p.contains("Window"), s"fusion ranking uses a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"bounded heap aggregate missing:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian in the fusion plan:\n$p")
  }

  test("t54 NB classify: hash aggregates + equi-joins only — no window, " +
      "no cartesian beyond the classes-bounded broadcast attaches") {
    val p = plan("t54_nb_classify")
    assert(!p.contains("Window"), s"NB scoring uses a window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian in the classify plan:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"classes/floors table lost its broadcast:\n$p")
  }

  test("g22/t68 web-link chains: no plan node carries a blown-up " +
      "substituted expression tree (the r16 pushdown pathology)") {
    // filtering on a computed column let predicate pushdown substitute
    // the whole staged resolve chain into the pushed condition — a
    // 45,258-node Filter tree before the Generate-barrier fix. Pin the
    // per-node expression budget so a refactor can't regress it.
    for (name <- Seq("g22_web_pagerank", "t68_anchor_text")) {
      val lp = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      lp.foreach { n =>
        val sz = n.expressions.map(_.collect { case x => x }.size).sum
        assert(sz < 3000,
          s"$name: ${n.nodeName} carries $sz expression nodes — " +
            "a computed-column filter is being substituted down again")
      }
    }
  }

  test("g24 sitemap frontier: budget on the bounded heap (no ranking " +
      "window), count attach broadcasts, no cartesian") {
    val p = plan("g24_sitemap_frontier")
    // the robots GRAMMAR's per-host-bounded lag/sum windows are fine;
    // what must never appear is a per-host ranking window
    assert(!p.contains("row_number"), s"frontier ranking uses a window:\n$p")
    assert(p.contains("top_k_by") || p.contains("TopKByScore"),
      s"bounded heap aggregate missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"budget-rows count attach lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian in the frontier plan:\n$p")
  }

  test("t73 redirect collapse: the edge frame materializes ONCE — the " +
      "hop joins must not re-run the WARC parse chain per reference") {
    val p = plan("t73_redirect_chains")
    // pre-fix the executed plan carried warc_records 6x (once per hop
    // join + the anti-lookup); post-fix the chain runs once at the
    // snapshot and every join reads the materialized skinny edges
    assert(!p.contains("warc_records"),
      s"edge chain re-evaluated inside the hop joins:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"materialized edge snapshot missing:\n$p")
  }

  test("frontier snapshots: g23/g25 read materialized candidate frames — " +
      "the robots-verdict/merged-schedule chains must not re-run per " +
      "reference (the t73 pattern, pinned)") {
    for (name <- Seq("g23_crawl_frontier", "g25_recrawl_schedule")) {
      val p = plan(name)
      assert(p.contains("Scan ExistingRDD"),
        s"$name: materialized frontier snapshot missing:\n$p")
      assert(!p.contains("warc_records"),
        s"$name: WARC parse chain re-evaluated inside the frontier tail:\n$p")
    }
  }

  test("f14 digest dedup: ONE digest-keyed hash aggregate (min_by), " +
      "never a per-digest window") {
    val p = plan("f14_warc_digest_dedup")
    assert(!p.contains("Window"), s"dedup uses a window:\n$p")
    assert(p.contains("min_by"), s"min_by argmin missing:\n$p")
  }

  test("t57 LR classify: map-only scoring — weights fold in-array over " +
      "the test scan, no join, no exchange, no window") {
    // (training already ran at plan-construction time — per-round jobs
    // with a collected (dim+1)-row model, the t51 bounded-model rule;
    // what's pinned here is the SCORING plan the query returns: the
    // r18 rewrite folds the weight literal in-array per doc, so the
    // former broadcast join and per-doc aggregate are gone entirely)
    val p = plan("t57_lr_classify")
    assert(!p.contains("Window"), s"LR scoring uses a window:\n$p")
    assert(!p.contains("Join"), s"scoring should be map-only:\n$p")
    assert(!p.contains("Exchange"), s"scoring should not shuffle:\n$p")
    assert(p.contains("lr_buckets"), s"feature kernel missing:\n$p")
  }

  private type Plan = org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** Expression-tree nodes of `n` itself (not its children) that pass
    * `keep`.
    */
  private def nodeExprs(n: Plan,
      keep: org.apache.spark.sql.catalyst.expressions.Expression => Boolean =
        _ => true): Int =
    n.expressions.map(_.collect { case e if keep(e) => e }.size).sum

  /** Expression-tree nodes over every node of `lp`. */
  private def exprNodes(lp: Plan): Int = lp.collect { case n => nodeExprs(n) }.sum

  test("Generate barrier: the n-gram overlap kernel runs once per pair " +
      "in t59/t60 — no pushed predicate re-evaluates it") {
    // bleuPairs and chrfPairs drop empty sides through
    // TextAnalysis.explodeWhen; a Filter there put 12 kernel calls per
    // row into the pushed predicate. Each query unions two pair sets, so
    // the kernel sits once in each branch's projection and nowhere else
    for (name <- Seq("t59_bleu", "t60_chrf")) {
      val lp = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      val perNode = lp.collect { case n =>
        n -> nodeExprs(n, _.prettyName == "gram_overlap_counts")
      }.filter(_._2 > 0)
      assert(perNode.map(_._2) == Seq(1, 1) && perNode.forall(
        _._1.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]),
        s"$name: gram_overlap_counts per node ${perNode.map(p =>
          p._1.nodeName -> p._2)}:\n$lp")
    }
  }

  test("Generate barrier: c37's optimized plan stays within 2x of its " +
      "192 expression nodes") {
    // 76,593 nodes before the qualityGate barrier: seven pushed Filters,
    // each carrying the substituted extract/redact chain
    val lp = SparkEntry.queries("c37_config_web_pipeline")(spark, dir)
      .queryExecution.optimizedPlan
    val total = exprNodes(lp)
    assert(total <= 384, s"c37 optimized plan carries $total expression nodes")
  }

  test("Generate barrier: curate's qualityGate drops rows through one " +
      "Generate and pushes no Filter over the redacted text") {
    import org.apache.spark.sql.functions._
    val pages = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), concat(lit("<html><body><p>"), col("text"),
        lit(" mail x@example.com</p></body></html>")).as("html"),
        col("lang"))
    val cfg = graft.config.ConfigCodec.pipelineFromYaml(
      """pipeline:
        |  name: web-pipeline
        |  stages:
        |    - stage: htmlExtract
        |    - stage: piiRedact
        |    - stage: qualityGate
        |      options:
        |        lang: en
        |        minQuality: "0.9"
        |        maxDupBigramFrac: "0.05"
        |""".stripMargin)
    val gated = graft.pipeline.StagePipeline.stagesOf(cfg, pages).last
    assert(gated._1 == "a3_qualityGate")
    val lp = gated._2.queryExecution.optimizedPlan
    val generates = lp.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(generates.size == 1, s"one gate Generate expected:\n$lp")
    val filters = lp.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
    filters.foreach { f =>
      val redacts = f.condition.collect {
        case e if e.prettyName == "regexp_replace" => e }.size
      assert(redacts == 0,
        s"a Filter carries $redacts substituted regexp_replace calls:\n$f")
    }
  }
}
