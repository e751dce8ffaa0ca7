package graft.streaming

import graft.operators.CorpusStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming classifier evaluation — the ingest-time twin of the batch
 * t55 operator ([[graft.operators.CorpusStats.classifierEval]]): keep a
 * DEPLOYED classifier's precision/recall/F1 current as labeled feedback
 * streams in (human review verdicts, delayed ground truth, an audit
 * sample), without re-scanning history.
 *
 * Like e38's NB trainer, this works because the sufficient statistic is
 * additive: every metric is a pure function of the (truth, predicted)
 * confusion counts, and counts over a union are sums over the parts.
 *
 *   - State: an [[LsmParquetState]] store of per-batch confusion COUNT
 *     DELTAS (`__t`, `__p`, `__n`), partitioned by a pair-hash nibble.
 *     Each micro-batch folds to its own ≤|classes|² delta rows (one hash
 *     aggregate over the batch) and lands in `tail/batch=<id>` —
 *     per-batch cost O(batch), never O(history).
 *   - [[currentEval]] sums the stored deltas and applies the SHARED
 *     [[CorpusStats.classifierEvalFromConfusion]] metric tail — one
 *     arithmetic, so the drained report EQUALS batch t55 over everything
 *     streamed under ANY batching (e39 gates against t55's oracle
 *     verbatim). Reading is O(|classes|²) — the confusion table's own
 *     size, the irreducible emission cost.
 *   - [[compactState]] folds the tail to one summed row per (truth,
 *     predicted): compacted state is O(|classes|²), independent of how
 *     many batches streamed.
 *
 * Delivery: EXACTLY-ONCE via the batch-keyed tail overwrite (count
 * deltas are not redelivery-idempotent — the e38 argument verbatim).
 */
object StreamingClassifierEval {

  private val layout = LsmLayout(
    partitionCols = Seq("__cp"),
    derivedCols = Seq("__cp"),
    derive = _.withColumn("__cp", pmod(hash(col("__t"), col("__p")), lit(16))))

  /** Start folding the labeled-pair stream into the confusion store.
    * `source` must carry `truthCol` and `predCol`.
    */
  def start(spark: SparkSession, source: DataFrame, truthCol: String,
      predCol: String, stateDir: String,
      checkpointDir: String): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, truthCol, predCol, stateDir)
    }
  }

  /** One micro-batch: fold to confusion deltas, batch-keyed tail append.
    * Split out so the replay spec drives the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      truthCol: String, predCol: String, stateDir: String): Unit = {
    val s = batch.sparkSession
    val deltas = batch
      .filter(col(truthCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(truthCol).cast("string").as("__t"),
        col(predCol).cast("string").as("__p"))
      .agg(count(lit(1)).as("__n"))
    if (!LsmParquetState.exists(s, stateDir))
      // batch 0 lays the store down; existence-guarded against replays
      LsmParquetState.seed(deltas.limit(0), stateDir, layout)
    LsmParquetState.append(deltas, stateDir, Some(batchId))
  }

  /** Cumulative confusion counts, base ∪ tail summed. */
  private[streaming] def storedConfusion(spark: SparkSession,
      stateDir: String): DataFrame =
    LsmParquetState.snapshot(spark, stateDir, layout)
      .groupBy(col("__t"), col("__p"))
      .agg(sum(col("__n")).as("__n"))

  /** The maintained evaluation report — merge-on-read through the batch
    * operator's own metric tail: equals batch
    * [[CorpusStats.classifierEval]] over everything streamed so far,
    * under any batching. Output: (label, tp, fp, fn, precision, recall,
    * f1).
    */
  def currentEval(spark: SparkSession, stateDir: String): DataFrame =
    CorpusStats.classifierEvalFromConfusion(storedConfusion(spark, stateDir))

  /** Fold the tail to one summed row per (truth, predicted). Call
    * BETWEEN runs (crash-safe, refuses under a live stream).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")
        .groupBy(col("__t"), col("__p"))
        .agg(sum(col("__n")).as("__n"))))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
