package graft.streaming

import graft.operators.{Graph, Html}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming web-graph construction — the ingest-time twin of the batch
 * t63→g22 composition ([[Html.docLinkEdges]] → [[Graph.pageRank]]):
 * extract each page's resolved, canonicalized doc-link edges AS IT
 * ARRIVES (decode-once — the page never needs re-parsing) and read the
 * rank merge-on-read. PageRank is CORPUS-level — a page streamed in the
 * first batch gains rank from links that arrive in the last — so the
 * e36/e47 posture (state holds per-page FACTS, the drained read runs
 * the shared rank operator) is the only shape whose drained result can
 * equal batch g22 under any batching. And it does, exactly: the read
 * calls the SAME [[Graph.pageRank]] over the banked edges.
 *
 * State: the strictly per-page edge rows (one extraction + one explode
 * per batch, O(batch) appended rows, never reads history) plus one
 * `dst = -1` sentinel row per page so link-less pages keep their vertex
 * (and its teleport rank) — the e47 sentinel lesson. [[LsmParquetState]]
 * layout partitioned by a source-vertex hash; [[compactState]] folds
 * the tail between runs.
 *
 * Delivery: EXACTLY-ONCE via the batch-keyed `tail/batch=<id>`
 * overwrite — a replayed in-flight batch rewrites exactly its own edge
 * rows (double-banked edges are deduped at read anyway, but the
 * sentinel rows must not double-count pages in any downstream census).
 */
object StreamingWebGraph {

  private val layout = LsmLayout(
    partitionCols = Seq("__sp"),
    derivedCols = Seq("__sp"),
    derive = _.withColumn("__sp", pmod(hash(col("src")), lit(16))))

  /** Start banking the page stream's edge evidence. `source` carries
    * (idCol, htmlCol, baseUriCol) rows; ids unique across the stream.
    */
  def start(source: DataFrame, idCol: String,
      htmlCol: String, baseUriCol: String, stateDir: String,
      checkpointDir: String,
      idPattern: String = "/doc/([0-9]+)"): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, htmlCol, baseUriCol,
          stateDir, idPattern)
    }

  /** One micro-batch: the per-page doc-link edges + per-page vertex
    * sentinels, batch-keyed append. Split out for the replay spec.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, htmlCol: String, baseUriCol: String, stateDir: String,
      idPattern: String): Unit = {
    val s = batch.sparkSession
    val rows = Html.docLinkEdges(batch, idCol, htmlCol, baseUriCol,
        idPattern)
      .unionByName(batch.select(col(idCol).cast("long").as("src"),
        lit(-1L).as("dst")))
    if (!LsmParquetState.exists(s, stateDir))
      LsmParquetState.seed(rows.limit(0), stateDir, layout)
    LsmParquetState.append(rows, stateDir, Some(batchId))
  }

  /** The maintained rank — batch g22 over everything streamed so far,
    * under ANY batching: banked edges (deduped — replay insurance)
    * through the SHARED [[Graph.pageRank]], sentinels supplying the
    * vertex frame. Output: (idCol, score).
    */
  def currentRank(spark: SparkSession, stateDir: String, idCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val banked = LsmParquetState.snapshot(spark, stateDir, layout)
    val nodes = banked.filter(col("dst") === -1L)
      .select(col("src").as(idCol)).distinct()
    val edges = banked.filter(col("dst") >= 0L)
      .select("src", "dst").distinct()
    Graph.pageRank(nodes, edges, idCol, "src", "dst", iters, damping)
  }

  /** Fold the edge tail into the base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(_.drop("__tail_batch")))

  /** Heal the store after a crash mid-compaction swap. */
  def recoverState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.recover(spark, stateDir)
}
