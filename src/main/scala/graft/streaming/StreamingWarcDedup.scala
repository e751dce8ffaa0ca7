package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming payload-digest crawl dedup — the ingest twin of the batch
 * f14 operator ([[graft.sources.Warc.dedupByDigest]]): a crawl arrives
 * as WARC shards over days, and "keep the EARLIEST capture per digest"
 * is a CORPUS-level verdict (a later shard can carry an earlier
 * capture), so the e36/e47/e49 merge-on-read posture is the only shape
 * whose drained output can equal the batch one under any sharding:
 * state banks each batch's capture FACTS (digest, type, uri, date,
 * body — the per-record parse runs once per batch, decode-once) and
 * the drained read runs the SHARED `dedupByDigest` — `min_by` over an
 * unordered union is order-free, so drained == batch under any
 * batching.
 *
 * State: one appended row per digest-bearing record, digest-hash
 * partitioned ([[LsmParquetState]]); batch-keyed `tail/batch=<id>`
 * overwrite gives EXACTLY-ONCE (a replayed batch would double
 * n_captures). [[compactState]] folds the tail between runs.
 */
object StreamingWarcDedup {

  private val layout = LsmLayout(
    partitionCols = Seq("__dp"),
    derivedCols = Seq("__dp"),
    derive = _.withColumn("__dp",
      pmod(hash(col("payload_digest")), lit(16))))

  /** Start banking a WARC-blob stream's capture facts: per micro-batch,
    * record framing + capture-header parse (map-only, decode-once —
    * the f14 chain verbatim) feeding [[processBatch]].
    */
  def start(spark: SparkSession, source: DataFrame, idCol: String,
      warcCol: String, stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(
          graft.sources.Warc.recordsFull(batch, idCol, warcCol),
          batchId, stateDir)
    }

  /** Bank one micro-batch's digest-bearing capture rows. */
  def processBatch(records: DataFrame, batchId: Long,
      stateDir: String): Unit = {
    val s = records.sparkSession
    val rows = records.filter(col("payload_digest") =!= "")
      .select(col("payload_digest"), col("warc_type"), col("target_uri"),
        col("warc_date"), col("body"))
    if (!LsmParquetState.exists(s, stateDir))
      LsmParquetState.seed(rows.limit(0), stateDir, layout)
    LsmParquetState.append(rows, stateDir, Some(batchId))
  }

  /** The maintained dedup — batch f14 over everything streamed so far,
    * under ANY sharding: the SHARED [[graft.sources.Warc.dedupByDigest]]
    * over the banked capture facts. Output: (payload_digest,
    * target_uri, warc_date, n_captures, n_revisits, body).
    */
  def currentDedup(spark: SparkSession, stateDir: String): DataFrame =
    graft.sources.Warc.dedupByDigest(
      LsmParquetState.snapshot(spark, stateDir, layout))

  /** Fold the capture tail into the base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
