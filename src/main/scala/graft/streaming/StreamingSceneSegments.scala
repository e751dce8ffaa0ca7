package graft.streaming

import graft.operators.{MediaDecoder, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming scene segmentation — the ingest-time twin of the batch m13
 * operator ([[Multimodal.sceneSegments]]), closing the last multimodal
 * family member without one: segment clips into scenes AS THEY ARRIVE
 * (the decode-once-at-ingest posture — scene boundaries feed clip
 * sampling, captioning and temporal grounding downstream, so computing
 * them at ingest means the raw payload never needs re-decoding).
 *
 * Scene segmentation is strictly PER-ASSET (one decode pass, one
 * asset-duration-bounded window — no cross-asset term anywhere), and a
 * streaming source delivers each asset row whole, so per-batch
 * application is the batch operator verbatim: drained scenes == batch
 * m13 over everything streamed, under ANY batching, same oracle (`e43`).
 * No state store — the only cross-batch obligation is delivery.
 *
 * Delivery: EXACTLY-ONCE via the batch-keyed `batch=<id>` overwrite (the
 * m10-twin convention): a replayed in-flight batch rewrites exactly its
 * own scene rows. Read `scenesDir` whole and select the scene columns —
 * the `batch` partition column comes along otherwise.
 */
object StreamingSceneSegments {

  /** Start segmenting the asset stream. `source` carries
    * (idCol, payloadCol) rows; scenes land under
    * `scenesDir/batch=<id>` as (media_id, scene_no, start_w, n_windows,
    * peak_w, peak_energy).
    */
  def start(source: DataFrame, idCol: String,
      payloadCol: String, scenesDir: String, checkpointDir: String,
      windowBytes: Int = 16, cutThreshold: Long = 120,
      decoder: Option[MediaDecoder] = None): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Nil) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, payloadCol, scenesDir,
          windowBytes, cutThreshold, decoder)
    }

  /** One micro-batch: the batch operator over the batch's own assets,
    * batch-keyed append. Split out for the replay spec (the
    * [[StreamingCuration.processBatch]] convention).
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, scenesDir: String,
      windowBytes: Int, cutThreshold: Long,
      decoder: Option[MediaDecoder]): Unit =
    Multimodal.sceneSegments(batch, idCol, payloadCol, windowBytes,
        cutThreshold, decoder)
      .write.mode("overwrite").parquet(s"$scenesDir/batch=$batchId")

  /** Everything segmented so far — the scene columns only. */
  def scenes(spark: SparkSession, scenesDir: String): DataFrame =
    spark.read.parquet(scenesDir)
      .select("media_id", "scene_no", "start_w", "n_windows", "peak_w",
        "peak_energy")
}
