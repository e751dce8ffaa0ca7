package graft.streaming

import graft.operators.Html
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming site-level template removal — the ingest-time twin of the
 * batch t64 operator ([[Html.htmlMainContentSiteAware]]): bank each
 * page's block evidence AS IT ARRIVES (decode-once — the page never
 * needs re-fetching), and read the extraction merge-on-read, so a motto
 * that only crosses the `minRepeats` page count on the 50th page still
 * drops from EVERY page of the host, including the ones that arrived
 * first. A per-batch decision could never do that — the frequency rule
 * is corpus-level, so the e36 merge-on-read posture (state holds facts,
 * the read applies the rule) is the only shape whose drained result can
 * equal batch t64 under any batching. And it does, exactly: the drained
 * read and the batch operator run the SAME [[Html.siteRebuild]].
 *
 * State: the strictly per-document [[Html.siteBlockRows]] (one decode +
 * one explode per batch, O(batch) appended rows, never reads history)
 * plus one `block_idx = -1` sentinel row per page so block-less pages
 * keep their empty output row (the e41 zero-row lesson, applied at
 * design time). [[LsmParquetState]] layout partitioned by a host hash —
 * a crawl's per-host shards land in their own sub-partitions and
 * [[compactState]] folds the tail between runs.
 *
 * Delivery: EXACTLY-ONCE via the batch-keyed `tail/batch=<id>`
 * overwrite — a replayed in-flight batch rewrites exactly its own
 * evidence rows (double-banked blocks would double page counts AND
 * duplicate rebuild text).
 */
object StreamingSiteTemplate {

  private val layout = LsmLayout(
    partitionCols = Seq("__hp"),
    derivedCols = Seq("__hp"),
    derive = _.withColumn("__hp", pmod(hash(col("__host")), lit(16))))

  /** Start banking the page stream's block evidence. `source` carries
    * (idCol, htmlCol, hostCol) rows; ids unique across the stream.
    */
  def start(source: DataFrame, idCol: String,
      htmlCol: String, hostCol: String, stateDir: String,
      checkpointDir: String, minWords: Int = 5): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, htmlCol, hostCol, stateDir,
          minWords)
    }

  /** One micro-batch: the per-document block rows + per-page sentinels,
    * batch-keyed append. Split out for the replay spec.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, htmlCol: String, hostCol: String, stateDir: String,
      minWords: Int): Unit = {
    val s = batch.sparkSession
    val rows = Html.siteBlockRows(batch, idCol, htmlCol, hostCol, minWords)
      .unionByName(batch.select(col(idCol),
        col(hostCol).as("__host"), lit(-1).as("block_idx"),
        lit("").as("text"), lit(false).as("is_content"),
        lit("").as("__dg")))
    if (!LsmParquetState.exists(s, stateDir))
      LsmParquetState.seed(rows.limit(0), stateDir, layout)
    LsmParquetState.append(rows, stateDir, Some(batchId))
  }

  /** The maintained extraction — batch t64 over everything streamed so
    * far, under ANY batching: the banked evidence through the SHARED
    * [[Html.siteRebuild]] (frequency rule + per-doc rebuild), sentinels
    * supplying the doc frame. Output: (idCol, main_text, n_content,
    * n_boiler).
    */
  def currentExtract(spark: SparkSession, stateDir: String, idCol: String,
      minRepeats: Int = 5): DataFrame = {
    val banked = LsmParquetState.snapshot(spark, stateDir, layout)
    Html.siteRebuild(banked.filter(col("block_idx") >= 0),
      banked.filter(col("block_idx") === -1).select(col(idCol)),
      idCol, minRepeats)
  }

  /** Fold the evidence tail into the base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
