package graft.streaming

import graft.operators.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming CDC merge — the ingest-time twin of the batch c03 operator
 * ([[graft.operators.Cdc.applyCdc]]) and the streaming generalization of
 * the reference's upsert keep-last write mode (`writeMode: Upsert`,
 * MigrateTableTask.java paging changes into the target): fold an
 * unbounded change log into a maintained current snapshot, micro-batch
 * by micro-batch.
 *
 * Design: MERGE-ON-READ over an LSM change store (the Hudi/Paimon MOR
 * posture, right for write-heavy CDC ingest at corpus scale):
 *
 *   - `<stateDir>/seed`: the base snapshot, written ONCE (no versions —
 *     any change beats it, the applyCdc contract).
 *   - `<stateDir>/changes`: the [[LsmParquetState]] base+tail store of
 *     change rows, partitioned by a key-hash nibble. Each micro-batch
 *     pre-collapses keep-last WITHIN the batch (the shared
 *     [[Cdc.keepLast]] hash aggregate — map-side combining, ≤ one row
 *     per (batch, key) reaches the log) and lands in its own
 *     `tail/batch=<id>` partition. The batch never READS state: per-batch
 *     cost is O(batch), not O(keys) — the property that makes MOR the
 *     scale posture for ingest (a merge-on-WRITE fold would rewrite the
 *     key-space every trigger).
 *   - [[currentSnapshot]] (the read path) is LITERALLY the batch
 *     operator: `Cdc.applyCdc(seed, storedChanges)` — one shared
 *     arithmetic, so the drained snapshot EQUALS batch c03 over
 *     everything streamed under ANY batching (max over per-batch maxes
 *     is the global max; spec- and oracle-pinned, e36 gates against
 *     c03's oracle shape verbatim).
 *   - [[compactState]] folds the tail into the base keeping ONE winner
 *     row per key through the same [[Cdc.keepLast]] — TOMBSTONES
 *     RETAINED (a delete's version must keep beating late redeliveries
 *     of older updates; folding a tombstone into "absent" would let a
 *     stale update resurrect the key and diverge from batch semantics).
 *     Compacted state is O(live keys + tombstones), independent of log
 *     length.
 *
 * Delivery: EXACTLY-ONCE. The per-batch append is a batch-keyed
 * `tail/batch=<id>` overwrite, so a replayed in-flight batch rewrites
 * exactly its own rows; the read path is insensitive to duplicates
 * anyway (keep-last is idempotent), making the store safe even under a
 * legacy flat tail. Batch 0 lays the store down from its own schema
 * (seed-if-absent) — the one ordering hazard (a replay must not re-seed
 * over an existing tail) is guarded by the existence check.
 */
object StreamingCdcMerge {

  private def layoutFor(keyCols: Seq[String]): LsmLayout = LsmLayout(
    partitionCols = Seq("__kp"),
    derivedCols = Seq("__kp"),
    derive = df => df.withColumn("__kp",
      pmod(hash(keyCols.map(col): _*), lit(16))))

  /** Write the base snapshot (once, before the stream starts). The
    * changes store is laid down by batch 0 from the stream's own schema.
    */
  def seedState(snapshot: DataFrame, stateDir: String): Unit =
    snapshot.write.mode("overwrite").parquet(s"$stateDir/seed")

  /** Start folding the change stream into the store. `source` must carry
    * the key columns, every non-key seed column, `versionCol`, `opCol`
    * and any `tieBreak` columns — the [[Cdc.applyCdc]] contract.
    */
  def start(spark: SparkSession, source: DataFrame, keyCols: Seq[String],
      versionCol: String, opCol: String, stateDir: String,
      checkpointDir: String, tieBreak: Seq[String] = Nil): StreamingQuery = {
    require(keyCols.nonEmpty, "need at least one key column")
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(s"$stateDir/changes")) {
      (batch, batchId) =>
        processBatch(batch, batchId, keyCols, versionCol, opCol, stateDir,
          tieBreak)
    }
  }

  /** One micro-batch: collapse keep-last within the batch through the
    * SHARED [[Cdc.keepLast]], then the batch-keyed tail append. Split
    * out so the replay spec drives the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], versionCol: String, opCol: String,
      stateDir: String, tieBreak: Seq[String]): Unit = {
    val s = batch.sparkSession
    val dir = s"$stateDir/changes"
    val latest = Cdc.keepLast(batch, keyCols, versionCol +: tieBreak)
    if (!LsmParquetState.exists(s, dir))
      // batch 0 lays the store down (schema now known). Existence-guarded:
      // a REPLAY of batch 0 after its tail landed must not wipe the store
      LsmParquetState.seed(latest.limit(0), dir, layoutFor(keyCols))
    LsmParquetState.append(latest, dir, Some(batchId))
  }

  /** Every stored change row, base ∪ tail (inspection / the snapshot's
    * change side). Empty-schema-correct once batch 0 has run.
    */
  private[streaming] def storedChanges(spark: SparkSession,
      stateDir: String, keyCols: Seq[String]): DataFrame =
    LsmParquetState.snapshot(spark, s"$stateDir/changes", layoutFor(keyCols))

  /** The maintained current snapshot — merge-on-read through the batch
    * operator itself: `applyCdc(seed, storedChanges)`. Equals batch c03
    * over everything streamed so far, under any batching.
    */
  def currentSnapshot(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], versionCol: String, opCol: String,
      deleteOp: String = "D", tieBreak: Seq[String] = Nil): DataFrame = {
    val seed = spark.read.parquet(s"$stateDir/seed")
    if (!LsmParquetState.exists(spark, s"$stateDir/changes")) seed
    else Cdc.applyCdc(seed, storedChanges(spark, stateDir, keyCols),
      keyCols, versionCol, opCol, deleteOp, tieBreak)
  }

  /** Fold the change tail into the base keeping one winner row per key
    * (tombstones retained — see the class doc). Call BETWEEN runs; the
    * swap is crash-safe ([[LsmParquetState.compact]]) and refuses under
    * a live stream.
    */
  def compactState(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], versionCol: String,
      tieBreak: Seq[String] = Nil): Unit =
    LsmParquetState.compact(spark, s"$stateDir/changes", layoutFor(keyCols),
      resolve = Some(tagged => Cdc.keepLast(tagged.drop("__tail_batch"),
        keyCols, versionCol +: tieBreak)))

  /** Heal the change store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, s"$stateDir/changes")
}
