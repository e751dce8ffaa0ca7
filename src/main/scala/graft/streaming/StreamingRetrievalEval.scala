package graft.streaming

import graft.operators.CorpusStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming ranked-retrieval evaluation — the ingest-time twin of the
 * batch b04 operator ([[graft.operators.CorpusStats.retrievalEval]]):
 * keep pooled MRR/recall@k/nDCG@k CURRENT as a retrieval system's run
 * shards stream in (nightly eval runs, A/B arms, re-ranker rollouts),
 * against a STATIC qrels frame — benchmark assessments don't stream;
 * system outputs do.
 *
 * This works because the pooled report is a mean over PER-QUERY metric
 * rows, and those rows are additive across disjoint query sets:
 *
 *   - Contract: each micro-batch carries WHOLE queries (every run row
 *     of a query in one batch — the shard-by-query shape eval runs
 *     naturally have). A query split across batches would score each
 *     fragment as a full ranking; like e33's drop-vs-refine note, the
 *     divergence is structural, not a bug to paper over.
 *   - State: an [[LsmParquetState]] store of per-batch PER-QUERY metric
 *     rows (query_id, __rr, __recall, __ndcg) through the SHARED
 *     [[CorpusStats.retrievalPerQuery]] arithmetic — O(batch queries)
 *     rows per batch, never reads history.
 *   - [[currentEval]] (the read path) pools the stored rows through the
 *     SHARED [[CorpusStats.retrievalPooled]] tail — drained == batch
 *     b04 over everything streamed, same oracle verbatim (`e41`). The
 *     qrels-aware overload additionally zero-fills judged queries the
 *     system never retrieved for (they appear in no batch, so they are
 *     never banked; batch counts them as zero-metric rows).
 *   - [[compactState]] folds the tail into the base as-is (metric rows
 *     are per-query facts): compacted state is O(queries).
 *
 * Delivery: EXACTLY-ONCE via the batch-keyed `tail/batch=<id>`
 * overwrite — a replayed in-flight batch rewrites exactly its own rows
 * (a double-banked query would double-weight it in every pooled mean).
 */
object StreamingRetrievalEval {

  private val layout = LsmLayout(
    partitionCols = Seq("__qp"),
    derivedCols = Seq("__qp"),
    derive = _.withColumn("__qp", pmod(hash(col("query_id")), lit(16))))

  /** Start folding the run stream into the metric store. `source` must
    * carry (query_id, doc_id, rank); `qrels` is the static
    * (query_id, doc_id, grade) assessment frame.
    */
  def start(spark: SparkSession, source: DataFrame, qrels: DataFrame,
      k: Int, stateDir: String, checkpointDir: String): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, qrels, k, stateDir)
    }
  }

  /** One micro-batch: the shared per-query metric arithmetic against
    * the batch's own queries' qrels, then the batch-keyed tail append.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      qrels: DataFrame, k: Int, stateDir: String): Unit = {
    val s = batch.sparkSession
    val batchQrels = qrels.join(
      batch.select(col("query_id")).distinct(), Seq("query_id"), "left_semi")
    val deltas = CorpusStats.retrievalPerQuery(batch, batchQrels, k)
    if (!LsmParquetState.exists(s, stateDir))
      LsmParquetState.seed(deltas.limit(0), stateDir, layout)
    LsmParquetState.append(deltas, stateDir, Some(batchId))
  }

  /** The banked per-query metric rows, base ∪ tail. */
  private[streaming] def storedMetrics(spark: SparkSession,
      stateDir: String): DataFrame =
    LsmParquetState.snapshot(spark, stateDir, layout)
      .select(col("query_id"), col("__rr"), col("__recall"), col("__ndcg"))

  /** The maintained pooled report — the batch operator's own tail over
    * the banked rows. NOTE: a judged query the system NEVER retrieved
    * for appears in no micro-batch, so it is never banked — batch
    * retrievalEval counts it as a zero-metric row (its n_queries is
    * qrels-driven). Use the qrels-aware overload to match batch for
    * such systems; this one equals batch only when every judged query
    * has at least one run row. Output: (n_queries, mrr, recall_at_k,
    * ndcg).
    */
  def currentEval(spark: SparkSession, stateDir: String): DataFrame =
    CorpusStats.retrievalPooled(storedMetrics(spark, stateDir))

  /** The pooled report zero-filled against the qrels query set: judged
    * queries with no banked metrics (the system retrieved NOTHING for
    * them, so no batch ever carried them) enter as zero-metric rows —
    * exactly how batch [[CorpusStats.retrievalPerQuery]]'s ideal-side
    * left join counts them. With this overload, drained == batch b04
    * under any whole-query batching, including retrieve-nothing
    * queries.
    */
  def currentEval(spark: SparkSession, stateDir: String,
      qrels: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val zero = lit(0).cast(dec)
    val filled = qrels.filter(col("grade") > 0)
      .select(col("query_id")).distinct()
      .join(storedMetrics(spark, stateDir), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__rr"), zero).as("__rr"),
        coalesce(col("__recall"), zero).as("__recall"),
        coalesce(col("__ndcg"), zero).as("__ndcg"))
    CorpusStats.retrievalPooled(filled)
  }

  /** Fold the metric tail into the base. Call BETWEEN runs; the swap is
    * crash-safe and refuses under a live stream.
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
