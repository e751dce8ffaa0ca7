package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming interval-union coverage — the live counterpart of the batch
 * [[graft.operators.Events.intervalCoverage]] (g14): as activity
 * intervals arrive, maintain each key's TOTAL ACTIVE TIME (the union
 * length naive `sum(end − start)` double-counts) and its merged
 * disjoint-block set. The drained report equals the batch operator over
 * the full interval history (the e-series contract): a key's LAST
 * emission happens at the last batch that carried one of its intervals,
 * at which point the merge ran over its complete state.
 *
 * State: ONE row per key — `(user, n_intervals, blocks)` where `blocks`
 * is the sorted array of maximal disjoint `(s, e)` segments of the
 * clamped intervals seen so far (g14's n_blocks counts exactly these
 * components, so merged state reproduces the batch emissions
 * bit-for-bit). Stored in an [[LsmParquetState]] partitioned by
 * `__up = pmod(user, 32)` with LATEST-BATCH-WINS tail overrides (the
 * e11 cluster-map recipe): a batch rewrites only its touched keys'
 * rows, batch-keyed (`tail/batch=<id>`, overwritten on replay —
 * exactly-once).
 *
 * 100 TB posture: per batch the work is O(batch + touched key rows) —
 * the base is read through a PartitionFilter on the batch's key
 * prefixes and then key-restricted by a left-semi join; untouched keys
 * never move. The merge itself is the g14 sweep (per-key window over
 * state blocks + new intervals, bounded by per-key block counts —
 * human-scale activity), never a corpus window.
 *
 * Per-key state bound (CHECKED): a key's block array grows with its
 * DISJOINT activity periods, so an adversarial key feeding millions of
 * micro-intervals would otherwise grow one fat state row unbounded.
 * Every batch therefore checks the merged block counts against
 * `maxBlocksPerKey` (default 100 000 ≈ 1.6 MB/row) and REFUSES with a
 * diagnostic naming the worst key — the fail-loudly convention (the e22
 * monotone check): silently coarsening the blocks would break the
 * drained == batch-g14 equality this monitor is gated on. The per-key
 * `n_blocks` metric is part of every report emission, so operators see
 * drift long before the cap; remedies are raising the cap or coarsening
 * timestamps upstream (where the batch operator would see the same
 * coarsening and the contract stays exact).
 */
object StreamingIntervalCoverage {

  private[streaming] val layout = LsmLayout(
    partitionCols = Seq("__up"),
    derivedCols = Seq("__up"),
    derive = _.withColumn("__up", pmod(col("user"), lit(32)).cast("int")))

  private def ensureStore(spark: SparkSession, blocksDir: String): Unit =
    if (!LsmParquetState.exists(spark, blocksDir)) {
      val empty = spark.range(0).select(
        col("id").as("user"), col("id").as("n_intervals"),
        array().cast("array<struct<s:bigint,e:bigint>>").as("blocks"))
      LsmParquetState.seed(empty, blocksDir, layout)
    }

  /** Latest state per key: base rows overridden by the newest tail row
    * (max_by over batch provenance) — the e11 resolution shape.
    */
  private def currentState(s: SparkSession, blocksDir: String,
      prefixes: Seq[Int], excludeTailBatch: Option[Long]): DataFrame = {
    val pred =
      if (prefixes.isEmpty) lit(true) else col("__up").isin(prefixes: _*)
    val base = LsmParquetState.scanBaseOnly(s, blocksDir, layout, pred)
    val tail = LsmParquetState.scanTailTagged(s, blocksDir, layout,
      excludeTailBatch)
    val latest = tail.groupBy("user")
      .agg(max_by(struct(col("n_intervals"), col("blocks")),
        col("__tail_batch")).as("__v"))
      .select(col("user"), col("__v.n_intervals").as("n_intervals"),
        col("__v.blocks").as("blocks"))
    base.join(latest.select("user"), Seq("user"), "left_anti")
      .unionByName(latest)
  }

  /** The drained report: (user, n_intervals, covered, n_blocks),
    * latest emitting batch wins per key.
    */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .groupBy(col("user"))
      .agg(max_by(struct(col("n_intervals"), col("covered"),
          col("n_blocks")), col("batch").cast("long")).as("__v"))
      .select(col("user"), col("__v.n_intervals").as("n_intervals"),
        col("__v.covered").as("covered"), col("__v.n_blocks").as("n_blocks"))

  def start(spark: SparkSession, source: DataFrame, keyCol: String,
      startCol: String, endCol: String, blocksDir: String,
      reportDir: String, checkpointDir: String,
      maxBlocksPerKey: Int = 100000): StreamingQuery = {
    ensureStore(spark, blocksDir)
    LsmParquetState.startOwning(source, checkpointDir, Seq(blocksDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, keyCol, startCol, endCol,
          blocksDir, reportDir, maxBlocksPerKey)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      keyCol: String, startCol: String, endCol: String,
      blocksDir: String, reportDir: String,
      maxBlocksPerKey: Int = 100000): Unit = {
    require(maxBlocksPerKey >= 1, "maxBlocksPerKey must be positive")
    val s = batch.sparkSession
    ensureStore(s, blocksDir)
    // bounded observed set: the batch's touched key PREFIXES (<= 32
    // values), computed inside the checkpoint job
    val (iv, prefixes) = EagerBatch.withIntSet(
      batch.select(col(keyCol).cast("long").as("user"),
        col(startCol).cast("long").as("s"), col(endCol).cast("long").as("e")),
      pmod(col("user"), lit(32)).cast("int"))
    if (prefixes.isEmpty) {
      s.range(0).select(col("id").as("user"), col("id").as("n_intervals"),
          col("id").as("covered"), col("id").as("n_blocks"))
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(iv)
      return
    }
    val touchedKeys = iv.select("user").distinct()
    val prior = currentState(s, blocksDir, prefixes, Some(batchId))
      .join(touchedKeys, Seq("user"), "left_semi")
      .localCheckpoint(eager = true)
    val oldIv = prior.select(col("user"), explode(col("blocks")).as("__b"))
      .select(col("user"), col("__b.s").as("s"), col("__b.e").as("e"))
    // the g14 sweep over state blocks + new intervals: clamped running
    // max, component ids, then per-component extents
    val w = Window.partitionBy(col("user")).orderBy(col("s"), col("e"))
    val pm = max(greatest(col("e"), col("s")))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = iv.unionByName(oldIv)
      .withColumn("__new", when(pm.isNull || col("s") > pm, 1L)
        .otherwise(0L))
      .withColumn("__blk", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user"), col("__blk"))
      .agg(min(col("s")).as("bs"),
        max(greatest(col("s"), col("e"))).as("be"))
    val counts = iv.groupBy("user").agg(count(lit(1)).as("__n_new"))
      .join(prior.select(col("user"), col("n_intervals").as("__n_old")),
        Seq("user"), "left_outer")
      .select(col("user"),
        (col("__n_new") + coalesce(col("__n_old"), lit(0L)))
          .as("n_intervals"))
    val next = merged.groupBy("user")
      .agg(sum(col("be") - col("bs")).as("covered"),
        count(lit(1)).as("n_blocks"),
        sort_array(collect_list(struct(col("bs").as("s"),
          col("be").as("e")))).as("blocks"))
      .join(counts, "user")
      .localCheckpoint(eager = true)
    // CHECKED per-key state bound: refuse the fat row loudly BEFORE it
    // lands in state (one tiny aggregate over the checkpointed frame —
    // the e22 contract-check shape)
    val worst = next.agg(max_by(col("user"), col("n_blocks")).as("u"),
      max(col("n_blocks")).as("b")).head()
    if (!worst.isNullAt(1) && worst.getLong(1) > maxBlocksPerKey)
      throw new IllegalStateException(
        s"interval-coverage state bound exceeded: key ${worst.get(0)} " +
          s"holds ${worst.getLong(1)} disjoint blocks " +
          s"(maxBlocksPerKey=$maxBlocksPerKey) — raise the cap or coarsen " +
          "timestamps upstream; silently coarsening here would break the " +
          "drained == batch-g14 contract")
    LsmParquetState.append(
      next.select(col("user"), col("n_intervals"), col("blocks")),
      blocksDir, Some(batchId))
    next.select(col("user"), col("n_intervals"), col("covered"),
        col("n_blocks"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(next)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(prior)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(iv)
  }

  /** Fold tail overrides into the base latest-wins. Call BETWEEN runs
    * (guarded).
    */
  def compactState(spark: SparkSession, blocksDir: String): Unit =
    LsmParquetState.compact(spark, blocksDir, layout,
      resolve = Some(df => df.groupBy("user")
        .agg(max_by(struct(col("n_intervals"), col("blocks")),
          col("__tail_batch")).as("__v"))
        .select(col("user"), col("__v.n_intervals").as("n_intervals"),
          col("__v.blocks").as("blocks"))))
}
