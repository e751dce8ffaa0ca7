package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming redirect-chain collapse — the ingest twin of the batch t73
 * composition ([[graft.operators.Redirects.collapse]]): redirect HOPS
 * of one chain routinely arrive in DIFFERENT crawl shards (the hop-0
 * 302 in Monday's WARC, its target's 301 in Wednesday's), so the final
 * target is a CORPUS-level verdict and the merge-on-read posture is
 * the only shape whose drained output can equal the batch one: state
 * banks each batch's redirect EDGE facts (the 3xx screen + Location
 * resolution run once per batch, map-only) and the drained read runs
 * the SHARED `collapse` — the unrolled join walk is a pure function of
 * the edge SET, which unions order-free.
 *
 * State: one appended (url, target) row per 3xx record, url-hash
 * partitioned ([[LsmParquetState]]); batch-keyed exactly-once.
 */
object StreamingRedirects {

  private val layout = LsmLayout(
    partitionCols = Seq("__rp"),
    derivedCols = Seq("__rp"),
    derive = _.withColumn("__rp", pmod(hash(col("url")), lit(16))))

  /** Start banking a WARC-blob stream's redirect edges: per
    * micro-batch, record framing + HTTP parse + the 3xx/Location
    * screen + resolution against the request URI (the t73 chain
    * verbatim) feeding [[processBatch]].
    */
  def start(spark: SparkSession, source: DataFrame, idCol: String,
      warcCol: String, stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        val recs = graft.sources.Warc.httpResponses(
          graft.sources.Warc.records(batch, idCol, warcCol), "body")
        val redirects = recs
          .filter(col("http_status").between(300, 399) &&
            col("location") =!= "")
          .select(col("target_uri"), col("location"))
        val edges = graft.operators.TextAnalysis.withResolvedUrl(
            redirects, "target_uri", "location", "__t")
          .select(col("target_uri").as("url"), col("__t").as("target"))
        processBatch(edges, batchId, stateDir)
    }

  /** Bank one micro-batch's redirect edges. */
  def processBatch(edges: DataFrame, batchId: Long,
      stateDir: String): Unit = {
    val s = edges.sparkSession
    val rows = edges.select(col("url"), col("target"))
      .filter(col("url").isNotNull && col("target").isNotNull)
    if (!LsmParquetState.exists(s, stateDir))
      LsmParquetState.seed(rows.limit(0), stateDir, layout)
    LsmParquetState.append(rows, stateDir, Some(batchId))
  }

  /** The maintained collapse — batch t73 over every shard streamed so
    * far, under ANY sharding. Output: (url, final_url, hops, resolved).
    */
  def currentCollapse(spark: SparkSession, stateDir: String,
      maxHops: Int = 5): DataFrame =
    graft.operators.Redirects.collapse(
      LsmParquetState.snapshot(spark, stateDir, layout), "url", "target",
      maxHops)

  /** Fold the edge tail into the base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
