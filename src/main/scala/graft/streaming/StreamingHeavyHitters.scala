package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming heavy-hitters monitor — the streaming sibling of the batch
 * t16 top-tokens report: each micro-batch appends its vocab-bounded
 * token-count delta to parquet state, then publishes the CURRENT top-k of
 * the accumulated stream. A crawl pipeline watches this for vocabulary
 * takeover (one boilerplate string flooding the corpus) as it happens.
 *
 * State posture (the [[StreamingNearDup]] rules): per-token counts live
 * in parquet, append-only — a batch writes ONE delta partition
 * (`batch=<id>` directory, overwritten on foreachBatch replay, so a
 * replayed batch can never double-count) and batch 0 resets the state
 * outright (fresh-checkpoint restarts re-stream from scratch; resuming
 * from the same checkpoint never re-runs batch 0). Per-batch distributed
 * cost: the delta aggregate (shuffle = the BATCH's distinct tokens) plus
 * one vocab-bounded re-aggregate of the state for the publish — map-side
 * combined, bounded by vocabulary size, never by corpus occurrences.
 * Between CLEANLY-DRAINED runs, pay down the per-batch delta directories
 * with [[compactState]] — NOT [[StreamingNearDup.compactState]], which
 * rewrites them to flat files that [[BatchMarker.readAll]] cannot read.
 *
 * The drained monitor equals the batch computation by construction:
 * ranking is [[TextAnalysis.topTokensFromCounts]] — shared code — over
 * counts that sum to exactly [[TextAnalysis.tokenCounts]] of everything
 * streamed. Gated end to end as the e08 driver query against the t16
 * oracle SQL shape.
 */
object StreamingHeavyHitters {

  /** Start the monitor over a streaming frame bearing `textCol`. Top-k
    * rows land in `outDir` (overwritten each batch: rank, token, n).
    */
  def start(spark: SparkSession, source: DataFrame, textCol: String,
      countsDir: String, outDir: String, checkpointDir: String,
      k: Int = 20): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(countsDir)) {
      (batch, batchId) =>
        val s = batch.sparkSession
        // fresh run (a resume from checkpoint never re-enters batch 0
        // unless it crashed inside it — where a reset is the replay): the
        // new run re-streams everything, so older runs' deltas would
        // double-count
        if (batchId == 0L) BatchMarker.reset(s, countsDir)
        TextAnalysis.tokenCounts(batch, textCol)
          .write.mode("overwrite").parquet(s"$countsDir/batch=$batchId")
        val accumulated = BatchMarker.readAll(s, countsDir)
          .groupBy("token").agg(sum(col("n")).as("n"))
        TextAnalysis.topTokensFromCounts(accumulated, k)
          .coalesce(1).write.mode("overwrite").parquet(outDir)
    }
  }

  /** Fold all accumulated per-batch delta directories into one `batch=-1`
    * base directory (ids are non-negative, so the base never collides
    * with a live delta and batch 0's reset still clears everything).
    * Run this ONLY between cleanly-drained runs: compacting a run that
    * stopped mid-batch would fold a batch whose replay then re-appends
    * its delta on top of the folded copy and double-counts it.
    */
  def compactState(spark: SparkSession, countsDir: String): Unit = {
    LsmParquetState.guardNotStreaming(countsDir)
    recoverState(spark, countsDir)
    // fully distributed: fold to a sibling temp dir (never read and
    // overwrite the same path), then swap directories with renames —
    // current goes to `.bak` first so a crash at ANY instant leaves a
    // complete copy on disk ([[recoverState]] heals the half-states)
    val tmp = s"$countsDir.compact"
    BatchMarker.readAll(spark, countsDir)
      .groupBy("token").agg(sum(col("n")).as("n"))
      .write.mode("overwrite").parquet(tmp)
    val p = new org.apache.hadoop.fs.Path(countsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(s"$countsDir.bak")
    require(fs.rename(p, bak), s"could not stage $countsDir to $bak")
    fs.mkdirs(p)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$countsDir/batch=-1")),
      s"rename $tmp -> $countsDir/batch=-1 failed; " +
        s"live state preserved at $bak — recoverState($countsDir) restores it")
    fs.delete(bak, true)
  }

  /** Heal a counts directory after a crash mid-[[compactState]] swap.
    * Idempotent; [[compactState]] self-heals through it. A dangling
    * `.bak` with a missing or still-EMPTY counts dir means the crash hit
    * between the renames — restore the backup; a non-empty counts dir
    * means the swap finished and only the cleanup was lost — drop the
    * backup. A dangling `.compact` tmp is deleted either way.
    */
  def recoverState(spark: SparkSession, countsDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(countsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(s"$countsDir.bak")
    val tmp = new org.apache.hadoop.fs.Path(s"$countsDir.compact")
    if (fs.exists(bak)) {
      val live = fs.exists(p) && fs.listStatus(p).nonEmpty
      if (!live) {
        if (fs.exists(p)) fs.delete(p, true)
        require(fs.rename(bak, p), s"could not restore $bak to $countsDir")
      } else fs.delete(bak, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }
}
