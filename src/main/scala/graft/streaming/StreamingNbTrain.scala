package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming Naive Bayes trainer — the ingest-time twin of the batch t53
 * operator ([[graft.operators.TextAnalysis.naiveBayesTrain]]): keep a
 * quality/language classifier's model CURRENT while the corpus streams
 * in, without ever retraining over history.
 *
 * This works because multinomial NB's sufficient statistic is additive:
 * the model is a pure function of per-(label, token) counts, and counts
 * over a union are sums of counts over the parts. So:
 *
 *   - State: an [[LsmParquetState]] store of per-batch COUNT DELTAS
 *     (`__lbl`, `__tok`, cnt), partitioned by a token-hash nibble. Each
 *     micro-batch tokenizes through the SHARED
 *     [[TextAnalysis.nbCounts]] (one explode + one hash aggregate over
 *     the batch) and lands in its own `tail/batch=<id>` partition. The
 *     batch never READS state: per-batch cost is O(batch tokens), not
 *     O(vocabulary) — the merge-on-read posture (e36's) that makes
 *     ingest-time training stay flat however large the corpus grows.
 *   - [[currentModel]] (the read path) sums the stored deltas per
 *     (label, token) and applies the SHARED [[TextAnalysis.nbModel]]
 *     smoothing arithmetic — one shared formula, so the drained model
 *     EQUALS batch t53 over everything streamed under ANY batching
 *     (sum of per-batch sums is the global sum; e38 gates against
 *     t53's oracle verbatim). Reading is O(vocabulary × classes) — the
 *     model's own size, the irreducible emission cost.
 *   - [[compactState]] folds the tail into the base keeping ONE summed
 *     row per (label, token): compacted state is O(vocabulary ×
 *     classes), independent of how many batches streamed.
 *
 * Delivery: EXACTLY-ONCE, and it must be — count deltas are NOT
 * idempotent under redelivery (unlike keep-last folds, a double-counted
 * batch corrupts every smoothed probability). The per-batch append is a
 * batch-keyed `tail/batch=<id>` overwrite, so a replayed in-flight batch
 * rewrites exactly its own rows; the store is always laid down
 * partitioned (there is no flat-legacy mode here, by design).
 */
object StreamingNbTrain {

  private val layout = LsmLayout(
    partitionCols = Seq("__tp"),
    derivedCols = Seq("__tp"),
    derive = _.withColumn("__tp", pmod(hash(col("__tok")), lit(16))))

  /** Start folding the document stream into the count store. `source`
    * must carry `textCol` and `labelCol`.
    */
  def start(spark: SparkSession, source: DataFrame, textCol: String,
      labelCol: String, stateDir: String,
      checkpointDir: String): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, textCol, labelCol, stateDir)
    }
  }

  /** One micro-batch: the shared tokenize-and-count aggregate, then the
    * batch-keyed tail append. Split out so the replay spec drives the
    * exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      textCol: String, labelCol: String, stateDir: String): Unit = {
    val s = batch.sparkSession
    val deltas = TextAnalysis.nbCounts(batch, textCol, labelCol)
    if (!LsmParquetState.exists(s, stateDir))
      // batch 0 lays the store down (schema now known). Existence-guarded:
      // a REPLAY of batch 0 after its tail landed must not wipe the store
      LsmParquetState.seed(deltas.limit(0), stateDir, layout)
    LsmParquetState.append(deltas, stateDir, Some(batchId))
  }

  /** Cumulative per-(label, token) counts, base ∪ tail summed. */
  private[streaming] def storedCounts(spark: SparkSession,
      stateDir: String): DataFrame =
    LsmParquetState.snapshot(spark, stateDir, layout)
      .groupBy(col("__lbl"), col("__tok"))
      .agg(sum(col("cnt")).as("cnt"))

  /** The maintained model — merge-on-read through the batch operator's
    * own smoothing arithmetic: equals batch
    * [[TextAnalysis.naiveBayesTrain]] over everything streamed so far,
    * under any batching. Output: (labelCol, token, cnt, logp).
    */
  def currentModel(spark: SparkSession, stateDir: String,
      labelCol: String): DataFrame =
    TextAnalysis.nbModel(storedCounts(spark, stateDir), labelCol)

  /** Fold the count tail into the base keeping one summed row per
    * (label, token). Call BETWEEN runs; the swap is crash-safe
    * ([[LsmParquetState.compact]]) and refuses under a live stream.
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")
        .groupBy(col("__lbl"), col("__tok"))
        .agg(sum(col("cnt")).as("cnt"))))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
