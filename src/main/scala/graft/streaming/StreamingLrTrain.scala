package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming logistic-regression trainer — the ingest-time twin of the
 * batch t56 operator ([[graft.operators.TextAnalysis.logRegTrain]]):
 * keep a trained quality/language screen reproducible over a streaming
 * corpus without ever re-tokenizing history.
 *
 * Gradient descent has NO additive sufficient statistic (each round's
 * gradient depends on the previous round's weights over the WHOLE
 * corpus — the honest contrast with e38's Naive Bayes, whose training
 * IS counting). What IS additive — and is where the corpus-scale work
 * lives — is the featurization: [[TextAnalysis.lrFeatures]] is strictly
 * per-document, so the hashed feature frame over a union is the union
 * of per-batch frames. The split:
 *
 *   - State: an [[LsmParquetState]] store of per-batch FEATURE DELTAS
 *     (`doc_id`, y, bucket, x) — each micro-batch pays its own
 *     tokenize + explode + hash once at ingest (O(batch tokens)), never
 *     reads state, and lands in its own `tail/batch=<id>` partition.
 *     Stored features are bucket-bounded per doc (≤ dim+1 rows), far
 *     skinnier than the text they summarize.
 *   - [[currentModel]] (the read path) runs the SHARED
 *     [[TextAnalysis.logRegFit]] rounds over the banked frame — one
 *     definition of the arithmetic, so the drained model EQUALS batch
 *     t56 over everything streamed under ANY batching (same feature
 *     set → same rounds; e40 gates against t56's oracle verbatim).
 *     Reading costs the full fixed-round descent over the banked
 *     features — the irreducible training cost; what the stream
 *     amortizes is the corpus pass that FEEDS it.
 *   - [[compactState]] folds the tail into the base as-is (feature
 *     rows are facts keyed by (doc, bucket), not deltas to merge):
 *     compacted state stays O(docs × min(dim, doc vocab)).
 *
 * Delivery: EXACTLY-ONCE via the batch-keyed `tail/batch=<id>`
 * overwrite — a replayed in-flight batch rewrites exactly its own rows
 * (a double-banked batch would double those docs' gradient weight and
 * silently bias every round).
 */
object StreamingLrTrain {

  private val layout = LsmLayout(
    partitionCols = Seq("__dp"),
    derivedCols = Seq("__dp"),
    derive = _.withColumn("__dp", pmod(hash(col("doc_id")), lit(16))))

  /** Start banking the document stream's hashed features. `source` must
    * carry `idCol`, `textCol` and the columns `yCol` reads.
    */
  def start(spark: SparkSession, source: DataFrame, idCol: String,
      textCol: String, yCol: Column, dim: Int, stateDir: String,
      checkpointDir: String): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, textCol, yCol, dim, stateDir)
    }
  }

  /** One micro-batch: the shared per-doc featurization, then the
    * batch-keyed tail append. Split out so the replay spec drives the
    * exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, yCol: Column, dim: Int,
      stateDir: String): Unit = {
    val s = batch.sparkSession
    val deltas = TextAnalysis.lrFeatures(batch, idCol, yCol, textCol, dim)
    if (!LsmParquetState.exists(s, stateDir))
      // batch 0 lays the store down (schema now known). Existence-guarded:
      // a REPLAY of batch 0 after its tail landed must not wipe the store
      LsmParquetState.seed(deltas.limit(0), stateDir, layout)
    LsmParquetState.append(deltas, stateDir, Some(batchId))
  }

  /** The banked feature frame, base ∪ tail. */
  private[streaming] def storedFeatures(spark: SparkSession,
      stateDir: String, idCol: String): DataFrame =
    LsmParquetState.snapshot(spark, stateDir, layout)
      .select(col(idCol), col("y"), col("bucket"), col("x"))

  /** The trained model — the batch operator's own fixed-round descent
    * ([[TextAnalysis.logRegFit]]) over the banked features: equals batch
    * [[TextAnalysis.logRegTrain]] over everything streamed so far, under
    * any batching. Output: (bucket, w DECIMAL(28,9)).
    */
  def currentModel(spark: SparkSession, stateDir: String, idCol: String,
      dim: Int, rounds: Int = 10, eta: Double = 10.0): DataFrame =
    TextAnalysis.logRegFit(storedFeatures(spark, stateDir, idCol), idCol,
      dim, rounds, eta)

  /** Fold the feature tail into the base. Call BETWEEN runs; the swap is
    * crash-safe ([[LsmParquetState.compact]]) and refuses under a live
    * stream.
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
