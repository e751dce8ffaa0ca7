package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stateful streaming deduplication: exact dedup ACROSS micro-batches via
 * Structured Streaming's keyed state store (`dropDuplicates` — the
 * engine-managed form of `mapGroupsWithState` custom state).
 *
 * Scale posture: state holds one entry per distinct fingerprint, not per
 * row. Fingerprints (md5 of normalized text, 16 bytes) keep the state
 * entries tiny — the streaming sibling of
 * [[graft.operators.Dedup.normalizedDedup]].
 */
object StreamingDedup {

  /** Drop rows whose normalized-text fingerprint has been seen in any
    * earlier micro-batch. Unbounded state (no watermark): exact global
    * dedup for finite backfills.
    */
  def dedupByText(stream: DataFrame, textCol: String): DataFrame =
    stream
      .withColumn("__fp", md5(Dedup.normalized(col(textCol))))
      .dropDuplicates("__fp")
      .drop("__fp")
}
