package graft.streaming

import graft.operators.WebFrontier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming crawl frontier — the ingest-time twin of the batch g23
 * composition ([[WebFrontier.schedule]]): candidate-URL evidence banks
 * AS PAGES ARRIVE (the caller extracts candidates per micro-batch —
 * decode-once, map-only — and this store folds them), and the fetch
 * list reads merge-on-read. Frontier priority is CORPUS-level (a URL's
 * inlink count accumulates across every batch that mentions it), so
 * the e36/e47/e49 posture — state holds ADDITIVE facts, the read runs
 * the shared schedule — is the only shape whose drained fetch list can
 * equal the batch one under any batching.
 *
 * State: per-batch (url, n) occurrence counts — one hash aggregate per
 * batch, O(batch distinct urls) appended rows, never reads history;
 * the drained read sums per url (addition is order-free) and feeds
 * [[WebFrontier.scheduleCounts]] verbatim. [[LsmParquetState]] layout
 * partitioned by a url hash; [[compactState]] folds the tail between
 * runs. Delivery: EXACTLY-ONCE via the batch-keyed `tail/batch=<id>`
 * overwrite (double-banked counts would inflate priorities).
 */
object StreamingFrontier {

  private val layout = LsmLayout(
    partitionCols = Seq("__up"),
    derivedCols = Seq("__up"),
    derive = _.withColumn("__up", pmod(hash(col("url")), lit(16))))

  /** Start banking a page stream's candidate evidence: per micro-batch,
    * outlink extraction + canonicalization (map-only, decode-once — the
    * g23 candidate chain verbatim) feeding [[processBatch]].
    */
  def start(spark: SparkSession, source: DataFrame, idCol: String,
      htmlCol: String, stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(
          graft.operators.Html.outlinks(batch, idCol, htmlCol)
            .select(graft.operators.TextAnalysis
              .canonicalUrl(col("url")).as("url")),
          batchId, "url", stateDir)
    }

  /** Bank one micro-batch's candidate occurrences. `candidates` carries
    * one row per link occurrence of `urlCol` (already canonicalized —
    * the caller's extraction runs per batch, decode-once).
    */
  def processBatch(candidates: DataFrame, batchId: Long, urlCol: String,
      stateDir: String): Unit = {
    val s = candidates.sparkSession
    // NULL urls (canonicalUrl's documented drop for relative/unparseable
    // hrefs) are dead rows the schedule can never fetch — filtering
    // BEFORE banking keeps them out of state forever (they would also
    // all hash-partition into one bucket)
    val rows = candidates.select(col(urlCol).as("url"))
      .filter(col("url").isNotNull)
      .groupBy("url").agg(count(lit(1)).as("n"))
    if (!LsmParquetState.exists(s, stateDir))
      LsmParquetState.seed(rows.limit(0), stateDir, layout)
    LsmParquetState.append(rows, stateDir, Some(batchId))
  }

  /** The maintained fetch list — batch g23 over everything streamed so
    * far, under ANY batching: banked counts sum per url (additive) and
    * run the SHARED [[WebFrontier.scheduleCounts]]. Output:
    * (host, rank, url, n_inlinks).
    */
  def currentSchedule(spark: SparkSession, stateDir: String,
      crawled: DataFrame, robots: DataFrame, budget: Int,
      agent: String = "*"): DataFrame = {
    val counts = LsmParquetState.snapshot(spark, stateDir, layout)
      .groupBy("url").agg(sum(col("n")).as("n_inlinks"))
    WebFrontier.scheduleCounts(counts, crawled, robots, "url", budget,
      agent)
  }

  /** [[currentSchedule]] with the sitemap discovery channel — sitemap
    * entries are READ-side configuration (like the robots frame): the
    * banked counts sum as before and feed the SHARED
    * [[WebFrontier.scheduleWithSitemaps]], so drained == batch g24
    * under any batching. Output: (host, rank, url, n_inlinks, score).
    */
  def currentScheduleWithSitemaps(spark: SparkSession, stateDir: String,
      sitemapEntries: DataFrame, crawled: DataFrame, robots: DataFrame,
      budget: Int, agent: String = "*"): DataFrame = {
    val counts = LsmParquetState.snapshot(spark, stateDir, layout)
      .groupBy("url").agg(sum(col("n")).as("n_inlinks"))
    WebFrontier.scheduleWithSitemaps(counts, sitemapEntries, crawled,
      robots, "url", budget, agent)
  }

  /** Fold the count tail into the base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
