package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming DP Naive Bayes model release — the ingest-time twin of the
 * batch v12 operator ([[graft.operators.Governance.dpNbModelRelease]]):
 * bank the PRIVATE-side sufficient statistic as the corpus streams in,
 * release once at drain.
 *
 * The split mirrors e38 exactly, because v12's statistic is e38's with
 * contribution bounding: the bounded (label, token) counts are
 * per-document and therefore additive, so each micro-batch appends ONLY
 * its own count deltas through the SHARED
 * [[Governance.dpNbBoundedCounts]] aggregate (O(batch tokens) per
 * batch, never reads state). [[currentRelease]] sums the deltas and
 * applies the SHARED [[Governance.dpNbReleaseTail]] — seeded noise,
 * stability threshold, smoothed-logp post-processing — so the drained
 * release EQUALS batch v12 under any batching (e42 gates against v12's
 * oracle verbatim).
 *
 * PRIVACY CONTRACT (the tail's, restated for the streaming shape): the
 * banked counts are PRIVATE intermediate state, not a release — only
 * [[currentRelease]]'s output leaves the trust boundary. ONE release
 * per seed: the noise is a deterministic function of (seed, label,
 * token), so releasing EVOLVING counts under one seed reveals exact
 * count deltas (the correlated noise cancels in the difference).
 * Release once at drain, or use a fresh seed per release and account ε
 * per release by composition.
 *
 * Delivery: EXACTLY-ONCE via the batch-keyed `tail/batch=<id>`
 * overwrite — count deltas are not redelivery-idempotent (e38's
 * argument; a double-counted batch shifts every noisy coordinate).
 */
object StreamingDpNbRelease {

  private val layout = LsmLayout(
    partitionCols = Seq("__tp"),
    derivedCols = Seq("__tp"),
    derive = _.withColumn("__tp", pmod(hash(col("token")), lit(16))))

  /** Start folding the document stream into the bounded-count store.
    * `source` must carry `textCol` and `labelCol`.
    */
  def start(source: DataFrame, textCol: String,
      labelCol: String, maxTokensPerDoc: Int, stateDir: String,
      checkpointDir: String): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, textCol, labelCol, maxTokensPerDoc,
          stateDir)
    }
  }

  /** One micro-batch: the shared bounded-count aggregate, then the
    * batch-keyed tail append.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      textCol: String, labelCol: String, maxTokensPerDoc: Int,
      stateDir: String): Unit = {
    val s = batch.sparkSession
    val deltas = Governance.dpNbBoundedCounts(batch, textCol, labelCol,
      maxTokensPerDoc)
    if (!LsmParquetState.exists(s, stateDir))
      LsmParquetState.seed(deltas.limit(0), stateDir, layout)
    LsmParquetState.append(deltas, stateDir, Some(batchId))
  }

  /** Cumulative bounded counts, base ∪ tail summed (PRIVATE state). */
  private[streaming] def storedCounts(spark: SparkSession,
      stateDir: String): DataFrame =
    LsmParquetState.snapshot(spark, stateDir, layout)
      .groupBy(col("__lbl"), col("token"))
      .agg(sum(col("__n")).as("__n"))

  /** The drain-time release — the batch operator's own noise +
    * post-processing tail over the banked counts: equals batch
    * [[Governance.dpNbModelRelease]] over everything streamed, under
    * any batching. Output: (labelCol, token, epsilon, released, logp).
    */
  def currentRelease(spark: SparkSession, stateDir: String,
      labelCol: String, maxTokensPerDoc: Int, epsilon: Double,
      threshold: Double, seed: String): DataFrame =
    Governance.dpNbReleaseTail(storedCounts(spark, stateDir),
      maxTokensPerDoc, epsilon, threshold, seed, labelCol)

  /** Fold the count tail into the base keeping one summed row per
    * (label, token). Call BETWEEN runs.
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")
        .groupBy(col("__lbl"), col("token"))
        .agg(sum(col("__n")).as("__n"))))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
