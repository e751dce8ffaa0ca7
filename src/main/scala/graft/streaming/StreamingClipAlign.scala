package graft.streaming

import graft.operators.{ByteStubDecoder, MediaDecoder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming video clip alignment — the ingest-time twin of the batch
 * [[graft.operators.Multimodal.videoClipAlign]] (m12), completing the
 * multimodal streaming family's temporal member (image e33, audio e34,
 * video SET dedup rides e33's recipe; video TEMPORAL alignment here):
 * each micro-batch of video payloads collapses to fixed-grid frame
 * digests — the decode through the [[graft.operators.MediaDecoder]]
 * seam, md5-over-hex digesting the m05 convention — probes the
 * persistent frame-digest index for every asset seen so far, and aligns
 * candidates through the per-pair offset histogram. The re-edited /
 * clipped-reupload screen a video ingest runs before storing a payload.
 *
 * Everything the e-series contract pins — pair completeness at the later
 * member's batch, the origin-tagged probe, touched-prefix LSM index
 * reads, the `clip_frame_stream_skew_guard` capBuckets drop (boilerplate
 * intro/credit frames are the quadratic hazard), batch-keyed
 * exactly-once delivery — is the SHARED [[LandmarkAlign]] engine, the
 * same implementation e34 runs: drained pairs == batch m12 over
 * everything streamed (same oracle), and the audio and video twins
 * cannot drift from each other.
 */
object StreamingClipAlign {

  private def frameDigests(media: DataFrame, idCol: String,
      payloadCol: String, decoder: MediaDecoder): DataFrame =
    media
      .select(col(idCol).as("__id"),
        posexplode(decoder.frameGrid(col(payloadCol)))
          .as(Seq("__a", "__f")))
      .select(col("__id"), md5(hex(col("__f"))).as("__h"), col("__a"))

  /** Seed the index from an existing corpus (empty frame = cold start). */
  def seedIndex(corpus: DataFrame, idCol: String, payloadCol: String,
      indexDir: String, frameBytes: Int = 16,
      decoder: Option[MediaDecoder] = None): Unit =
    LandmarkAlign.seed(
      frameDigests(corpus, idCol, payloadCol,
        decoder.getOrElse(ByteStubDecoder(frameBytes = frameBytes))),
      indexDir)

  /** All drained pairs: (idA, idB, f_offset, n_aligned), each exactly
    * once, in its later member's batch.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    LandmarkAlign.pairs(spark, pairsDir, "f_offset")

  def start(spark: SparkSession, source: DataFrame,
      idCol: String, payloadCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      frameBytes: Int = 16, minAligned: Int = 3,
      maxDigestGroup: Int = 10000,
      decoder: Option[MediaDecoder] = None): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(indexDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, payloadCol, indexDir,
          pairsDir, frameBytes, minAligned, maxDigestGroup, decoder)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`. Frame digesting is the
    * modality-specific part; everything after is [[LandmarkAlign]].
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, indexDir: String,
      pairsDir: String, frameBytes: Int, minAligned: Int,
      maxDigestGroup: Int, decoder: Option[MediaDecoder] = None): Unit =
    LandmarkAlign.processBatch(
      frameDigests(batch, idCol, payloadCol,
        decoder.getOrElse(ByteStubDecoder(frameBytes = frameBytes))),
      batchId, indexDir, pairsDir, "f_offset", minAligned, maxDigestGroup,
      "clip_frame_stream_skew_guard")

  /** Fold the tail into the partitioned base (between runs — guarded). */
  def compactState(spark: SparkSession, indexDir: String): Unit =
    LandmarkAlign.compact(spark, indexDir)
}
