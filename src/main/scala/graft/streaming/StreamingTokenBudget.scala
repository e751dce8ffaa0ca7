package graft.streaming

import graft.operators.{CorpusStats, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming token-budget admission — ingest a document stream until a
 * global token budget is exhausted, then stop admitting. The gate a
 * training-data intake runs when the target corpus size is fixed (e.g.
 * "take the first N·10⁹ tokens of this crawl in arrival order"): each
 * micro-batch's documents are admitted in id order while the RUNNING
 * corpus total stays within budget; the batch that crosses the budget is
 * admitted partially; everything after it is rejected.
 *
 * State posture (the [[StreamingHeavyHitters]] rules): ONE tiny parquet
 * row per batch (`batch=<id>` partition: the tokens that batch STREAMED,
 * admitted or not — the budget covers the stream's head, so rejected
 * tokens still count against it),
 * overwritten on foreachBatch replay so a replayed batch can never
 * double-spend, batch 0 resets state and output outright. The prior
 * spend for batch b = sum of the `batch < b` state rows — a
 * batches-count-sized read, never a corpus scan.
 *
 * Per-batch distributed cost: one token-count pass over the batch plus
 * [[CorpusStats.globalRunningTotal]] for the in-batch running position —
 * range-partitioned parallel prefix sum, NOT a single-task global window,
 * so one oversized micro-batch cannot serialize onto one core.
 *
 * The drained output equals the batch computation by construction: admit
 * iff `prior + in-batch running total <= budget`, which telescopes to the
 * global running total over `(batch, id)` order — the e09 oracle replays
 * exactly that window relationally.
 */
object StreamingTokenBudget {

  /** Start the admission gate. Admitted rows land in
    * `outDir/batch=<id>` as (idCol, n_tokens, cum_tokens).
    */
  def start(spark: SparkSession, source: DataFrame, idCol: String,
      textCol: String, budget: Long, stateDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    require(budget >= 0, "budget must be non-negative")
    LsmParquetState.startOwning(source, checkpointDir, Nil) {
      (batch, batchId) =>
        val s = batch.sparkSession
        // a fresh run resets at batch 0 (a checkpoint resume never re-enters
        // it unless it crashed inside it, where reset IS the replay): stale
        // spend/output would double-count; later batches find batch 0's spend
        val prior: Long =
          if (batchId == 0L) { BatchMarker.reset(s, stateDir, outDir); 0L }
          else BatchMarker.readAll(s, stateDir, keepBatch = true)
            .filter(col("batch") < batchId)
            .agg(coalesce(sum(col("spent_tokens")), lit(0L)))
            .head().getLong(0)
        val counted = batch.select(col(idCol),
          TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
        // ranked is backed by globalRunningTotal's snapshot: the token
        // count runs ONCE per batch even though two consumers follow
        val ranked = CorpusStats
          .globalRunningTotal(counted, idCol, "n_tokens", cumCol = "cum_tokens")
        // spend = the batch's TOTAL tokens, admitted or not: the contract
        // (and the oracle) is "the stream's head up to the budget" — one
        // running total over EVERYTHING in arrival order. Recording only
        // admitted tokens would let a small doc AFTER the budget-crossing
        // batch slip into the leftover slack (greedy knapsack, a
        // different operator). The total rides the admitted WRITE as an
        // observed aggregate BELOW the budget filter (every ranked row
        // flows through the metrics node before the filter drops it), so
        // the former separate spend job is gone.
        val obs = org.apache.spark.sql.Observation(
          "e09_spend_" + java.util.UUID.randomUUID())
        val admitted = ranked
          .observe(obs, coalesce(sum(col("n_tokens")), lit(0L)).as("__spent"))
          .withColumn("cum_tokens", col("cum_tokens") + lit(prior))
          .filter(col("cum_tokens") <= budget)
        admitted.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        val spent = obs.get("__spent").asInstanceOf[Long]
        import s.implicits._
        Seq(spent).toDF("spent_tokens")
          .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    }
  }
}
