package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming incremental entity resolution — the ingest-time form of the
 * c14 batch composition: as records arrive, fuzzy-match their NEW
 * string keys against the accumulated vocabulary (SymSpell deletion
 * neighborhoods probed through a PERSISTED variant-hash index) and fold
 * the match edges into a persisted cluster map with the
 * contracted-graph incremental closure
 * ([[Dedup.clusterAssignmentsIncrementalDelta]] — the c13 machinery),
 * so each micro-batch costs O(delta names + touched clusters), never a
 * corpus re-closure — and WRITES O(delta + relabeled rows), never a
 * vocabulary-scale snapshot (the LSM base+tail recipe shared with the
 * d09 near-dup stores).
 *
 * State — three [[LsmParquetState]] stores, all vocabulary-scale (one
 * row per distinct string / variant, the ER working set, not per
 * record):
 *   - `namesDir`:  (name, name_id) — append-only; base partitioned by
 *     `__np = pmod(hash(name), 64)` so the per-batch newness anti-join
 *     reads only the batch's name-prefix partitions (a bounded ≤ 64-int
 *     collect builds the PartitionFilter, static pruning);
 *   - `<namesDir>.variants`: (__v, name_id, name) — every `<= maxDist`
 *     deletion-variant hash of every stored name, base partitioned by
 *     `__vp = pmod(__v, 64)`; candidate generation probes ONLY the
 *     delta's touched prefixes. Carrying the (short key) string in the
 *     index removes the second fetch the d09 docs store needs for big
 *     payloads — candidates verify with `levenshtein` directly;
 *   - `mapDir`:    (name_id, cluster_id) — base partitioned by
 *     `pmod(hash(name_id), 64)`; the tail holds per-batch DELTAS (new
 *     names' assignments + relabeled members of merged clusters) and a
 *     tail row OVERRIDES the base latest-batch-wins. [[compactState]]
 *     resolves tails into a fresh base between runs.
 * Every batch appends its deltas under `tail/batch=<id>` (overwritten
 * on a foreachBatch replay) and reads state with its own batch's tail
 * excluded — a replay therefore sees exactly the pre-batch state:
 * exactly-once state evolution, now at delta write cost.
 *
 * Contracts:
 *   - record ids are monotonically non-decreasing across batches (the
 *     ingest norm); a name's stable `name_id` is the smallest record id
 *     that carried it, which under monotone ids equals the global
 *     minimum — so drained cluster labels are row-identical to the
 *     batch closure over everything streamed (the c13 guarantee). The
 *     contract is load-bearing and now CHECKED: each batch's min id
 *     must be >= the stored max id of prior batches (one scalar agg per
 *     batch; violation fails the batch fast instead of silently
 *     diverging cluster labels).
 *   - cluster labels are RETROACTIVE (a later edge can merge two old
 *     clusters); the queryable result is the latest persisted map, not
 *     any per-batch emission — read it with [[resolvedMap]].
 *   - batch ids must be monotone too: keep the checkpoint across runs,
 *     or [[compactState]] between runs (an empty tail makes restarting
 *     ids safe).
 */
object StreamingEntityResolution {

  /** Sub-partitions of each store's base — see the class doc. */
  val prefixes: Int = 64

  /** The variant-hash index lives NEXT TO the names store (sibling, not
    * nested — a subdirectory would corrupt the names store's own
    * base/tail discovery).
    */
  def variantsDirFor(namesDir: String): String =
    namesDir.stripSuffix("/") + ".variants"

  private def maxIdDirFor(namesDir: String): String =
    namesDir.stripSuffix("/") + ".maxid"

  private val namesLayout = LsmLayout(Seq("__np"), Seq("__np"),
    _.withColumn("__np", pmod(hash(col("name")), lit(prefixes)).cast("int")))
  private val idxLayout = LsmLayout(Seq("__vp"), Seq("__vp"),
    _.withColumn("__vp", pmod(col("__v"), lit(prefixes.toLong)).cast("int")))
  private val mapLayout = LsmLayout(Seq("__mp"), Seq("__mp"),
    _.withColumn("__mp", pmod(hash(col("name_id")), lit(prefixes)).cast("int")))

  /** (__v, name_id, name) variant-index rows of a names frame. */
  private def variantRows(names: DataFrame, maxDist: Int): DataFrame =
    names.select(
      explode(graft.functions.GraftFunctions.deletion_variant_hashes(
        col("name"), maxDist)).as("__v"),
      col("name_id"), col("name"))

  /** Seed the three stores from an existing batch-resolved map
    * (`(name, name_id, cluster_id)`, e.g. a c14 result) — the handoff
    * from a batch build to the streaming screen. `maxRecordId` primes
    * the monotone-ids contract: the first streamed batch's ids must
    * exceed every record id the batch build consumed (defaults to the
    * max `name_id`, a LOWER bound — pass the true max record id).
    */
  def seedState(resolved: DataFrame, namesDir: String, mapDir: String,
      maxDist: Int = 1, maxRecordId: Option[Long] = None): Unit = {
    val names = resolved.select("name", "name_id")
    LsmParquetState.seed(names, namesDir, namesLayout)
    LsmParquetState.seed(variantRows(names, maxDist),
      variantsDirFor(namesDir), idxLayout)
    LsmParquetState.seed(resolved.select("name_id", "cluster_id"),
      mapDir, mapLayout)
    val s = resolved.sparkSession
    val seedMax = maxRecordId.orElse(
      Option(names.agg(max(col("name_id"))).head().get(0))
        .map(_.asInstanceOf[Long]))
    seedMax.foreach(m => writeMaxId(s, namesDir, -1L, m))
  }

  /** First-contact bootstrap: empty bases so every later read/append
    * takes the LSM path. Idempotent. The empty frames are built from a
    * LITERAL schema, not `batch.limit(0)` — a limit-0 of the live batch
    * frame still plans (and pays for) the whole batch source read in
    * each of the three seed writes, measured ~3 s of the first batch at
    * fixture scale. The schema is the operator's own contract: `name`
    * is the probe string, ids are the longs [[processBatch]] casts to.
    */
  private def ensureStores(s: SparkSession,
      namesDir: String, mapDir: String): Unit = {
    import org.apache.spark.sql.types._
    def empty(fields: (String, DataType)*): DataFrame =
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(fields.map { case (n, t) => StructField(n, t) }))
    if (!LsmParquetState.hasBase(s, namesDir))
      LsmParquetState.seed(empty("name" -> StringType, "name_id" -> LongType),
        namesDir, namesLayout)
    if (!LsmParquetState.hasBase(s, variantsDirFor(namesDir)))
      LsmParquetState.seed(
        empty("__v" -> LongType, "name_id" -> LongType, "name" -> StringType),
        variantsDirFor(namesDir), idxLayout)
    if (!LsmParquetState.hasBase(s, mapDir))
      LsmParquetState.seed(
        empty("name_id" -> LongType, "cluster_id" -> LongType),
        mapDir, mapLayout)
  }

  /** The current cluster map (name_id, cluster_id): base with the tail's
    * latest-batch-wins overrides applied. The override set is the
    * (small) un-compacted tail, so the base never shuffles: resolve the
    * tail per key (`max_by` over batch provenance), anti-join the base
    * against the override keys (AQE broadcasts them), union.
    */
  private def currentMap(s: SparkSession, mapDir: String,
      excludeTailBatch: Option[Long]): DataFrame = {
    val base = LsmParquetState.scanBaseOnly(s, mapDir, mapLayout, lit(true))
    val tail = LsmParquetState.scanTailTagged(s, mapDir, mapLayout,
      excludeTailBatch)
    val latest = tail.groupBy("name_id")
      .agg(max_by(col("cluster_id"), col("__tail_batch")).as("cluster_id"))
    base.join(latest.select("name_id"), Seq("name_id"), "left_anti")
      .unionByName(latest)
  }

  /** The resolved entity map after the last drained batch:
    * `(name, name_id, cluster_id)`.
    */
  def resolvedMap(spark: SparkSession, namesDir: String,
      mapDir: String): DataFrame = {
    if (!LsmParquetState.hasBase(spark, namesDir))
      throw new IllegalStateException(
        s"no entity state under $namesDir — nothing drained yet")
    LsmParquetState.snapshot(spark, namesDir, namesLayout)
      .join(currentMap(spark, mapDir, None), "name_id")
      .select("name", "name_id", "cluster_id")
  }

  /** Fold each store's tail into a fresh partitioned base (the map with
    * latest-batch-wins conflict resolution) and keep only the newest
    * max-id marker. Call BETWEEN runs (claimed/guarded like every LSM
    * store); afterwards a run restarting at batch id 0 is safe.
    */
  def compactState(spark: SparkSession, namesDir: String,
      mapDir: String): Unit = {
    LsmParquetState.compact(spark, namesDir, namesLayout)
    LsmParquetState.compact(spark, variantsDirFor(namesDir), idxLayout)
    LsmParquetState.compact(spark, mapDir, mapLayout,
      resolve = Some(tagged => tagged.groupBy("name_id")
        .agg(max_by(col("cluster_id"), col("__tail_batch")).as("cluster_id"))))
    // max-id markers: keep the newest only, rebased to the reserved
    // pre-run id −1 so a restarted run's batch 0 still sees it
    BatchMarker.compact(spark, maxIdDirFor(namesDir))
  }

  private def writeMaxId(s: SparkSession, namesDir: String, batchId: Long,
      maxId: Long): Unit =
    BatchMarker.write(s, maxIdDirFor(namesDir), batchId, maxId)

  /** Largest record id recorded by batches with id < `before` (the
    * pre-batch view a replay must see); None before any data.
    */
  private def latestMaxId(s: SparkSession, namesDir: String,
      before: Long): Option[Long] =
    BatchMarker.readLatest(s, maxIdDirFor(namesDir), before)

  def start(spark: SparkSession, source: DataFrame,
      idCol: String, strCol: String,
      namesDir: String, mapDir: String, checkpointDir: String,
      maxDist: Int = 1,
      maxBucketSize: Int = 10000): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(namesDir, variantsDirFor(namesDir), mapDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, strCol, namesDir, mapDir,
          maxDist, maxBucketSize)
    }
  }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, strCol: String,
      namesDir: String, mapDir: String, maxDist: Int,
      maxBucketSize: Int = 10000): Unit = {
    val s = batch.sparkSession
    val indexDir = variantsDirFor(namesDir)
    val rows = batch.select(col(idCol).cast("long").as("__rid"),
      col(strCol).as("name"))
    ensureStores(s, namesDir, mapDir)
    // ONE job covers every bounded per-batch lookup (was three): the
    // record-id min/max for the monotone contract, the batch's touched
    // name prefixes, and the touched variant prefixes. Variant prefixes
    // come from ALL batch names — a superset of the new names' variants,
    // so the PartitionFilter stays correct and at worst opens a few
    // already-written sub-partitions; tightening it cost a second job
    // over the materialized anti-join (the r10 fixture-overhead finding).
    val pre = rows.select(col("__rid"),
      pmod(hash(col("name")), lit(prefixes)).cast("int").as("__np"),
      explode_outer(array_distinct(transform(
        graft.functions.GraftFunctions.deletion_variant_hashes(
          col("name"), maxDist),
        v => pmod(v, lit(prefixes.toLong)).cast("int")))).as("__vp"))
    val mm = pre.agg(min(col("__rid")), max(col("__rid")),
      collect_set(col("__np")), collect_set(col("__vp"))).head()
    val touchedNp = mm.getSeq[Int](2).toArray
    val touchedVp = mm.getSeq[Int](3).toArray
    val exclude = Some(batchId)
    // monotone-record-id contract check: the stored name_id must be the
    // GLOBAL minimum record id of its name for drained labels to equal
    // the batch closure; that only holds when ids never decrease across
    // batches — fail fast, don't drift.
    if (!mm.isNullAt(0)) {
      val (bmin, bmax) = (mm.getLong(0), mm.getLong(1))
      val prevMax = latestMaxId(s, namesDir, batchId)
      prevMax.foreach { pm =>
        if (bmin < pm) throw new IllegalStateException(
          s"monotone-record-id contract violated: batch $batchId carries " +
            s"id $bmin below the stored max $pm of earlier batches — " +
            "stored name_ids would no longer be global minima and cluster " +
            "labels would silently diverge from the batch closure")
      }
      writeMaxId(s, namesDir, batchId, math.max(bmax, prevMax.getOrElse(bmax)))
    }
    val batchNames = rows.groupBy("name").agg(min(col("__rid")).as("name_id"))
    // newness anti-join reads ONLY the batch's name-prefix partitions of
    // the names base (bounded ≤ `prefixes` set → PartitionFilter)
    val storedNames = LsmParquetState.scan(s, namesDir, namesLayout,
      prefixPred("__np", touchedNp), exclude).select("name")
    val newNames = batchNames
      .join(storedNames, Seq("name"), "left_anti")
      .persist()
    try {
      // candidate pairs: delta variant hashes probe the persisted index
      // restricted to their touched prefixes, plus the delta itself
      // (delta-delta pairs); the short strings ride WITH the hashes so
      // the exact verify needs no second store fetch
      val deltaVx = variantRows(newNames, maxDist)
      val storedVx = LsmParquetState.scan(s, indexDir, idxLayout,
        prefixPred("__vp", touchedVp), exclude)
      val probe = Dedup.capBuckets(
        storedVx.unionByName(deltaVx), Seq("__v"), maxBucketSize,
        "er_stream_skew_guard")
      val pairs = deltaVx
        .select(col("__v"), col("name_id").as("id_a"), col("name").as("name_a"))
        .join(probe.select(col("__v"), col("name_id").as("id_b"),
          col("name").as("name_b")), "__v")
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "name_a", "id_b", "name_b").distinct()
        .filter(levenshtein(col("name_a"), col("name_b")) <= maxDist)
        .select(least(col("id_a"), col("id_b")).as("idA"),
          greatest(col("id_a"), col("id_b")).as("idB"))
        .distinct()
        // materialize the (bounded, O(delta)) edge list: the closure
        // references it three times (edge snapshot, endpoints, contracted
        // edges) and each unmaterialized reference would re-execute the
        // whole probe/verify pipeline — measured ~40% of the first
        // batch's wall clock at fixture scale
        .localCheckpoint(true)
      // fold: contracted-graph closure emitting ONLY the changed rows
      // (empty base degenerates to the full closure of the first batch)
      val mapDelta = Dedup.clusterAssignmentsIncrementalDelta(
        currentMap(s, mapDir, exclude), newNames.select("name_id"), pairs,
        "name_id")
      // batch-keyed tail appends — O(delta + relabeled), replay-overwritten
      LsmParquetState.appendTail(newNames.select("name", "name_id"),
        namesDir, Some(batchId))
      LsmParquetState.appendTail(deltaVx.select("__v", "name_id", "name"),
        indexDir, Some(batchId))
      LsmParquetState.appendTail(mapDelta, mapDir, Some(batchId))
    } finally newNames.unpersist()
  }

  private def prefixPred(colName: String, values: Array[Int]): Column =
    if (values.isEmpty) lit(false)
    else col(colName).isin(values.toSeq: _*)
}
