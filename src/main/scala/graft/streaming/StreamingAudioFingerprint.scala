package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming audio fingerprint matching — the ingest-time twin of the
 * batch [[graft.operators.Multimodal.audioFingerprintPairs]] (m11),
 * closing the multimodal streaming family (text e-series, image e33,
 * audio here): each micro-batch of payloads collapses to constellation
 * landmarks (ONE kernel pass — [[graft.functions.HashKernels.constellationHashes]]),
 * probes the PERSISTENT landmark index for every asset seen so far,
 * aligns candidates through the per-pair OFFSET HISTOGRAM, and appends
 * its own landmarks so later batches see them. The duplicate-track /
 * clipped-rebroadcast screen an audio ingest runs before storing.
 *
 * Pair completeness across batches: an asset is ATOMIC (all its
 * landmarks land in its own batch), so when the later member of a pair
 * arrives, the earlier member's landmarks are all in the index — the
 * offset histogram computed in the later batch is the FULL histogram,
 * and each pair surfaces exactly once, in its later member's batch
 * (within-batch pairs in their own batch; the e33 contract).
 *
 * Index state, probe, histogram, delivery: the SHARED [[LandmarkAlign]]
 * engine (one implementation under both this operator and the e37 video
 * twin — the twins cannot drift): touched-prefix LSM index reads,
 * origin-tagged probe, batch-keyed exactly-once pair/landmark writes
 * with own-tail-excluded scans.
 *
 * Skew guard: hash groups over `maxHashGroup` DROP with the observed
 * `audio_fp_stream_skew_guard` (the batch m11 uses the same capBuckets
 * drop semantics, so — unlike e33's refine-vs-drop divergence — drained
 * == batch holds whenever BOTH runs' guards see the same group sizes;
 * at the gate's cap nothing drops on either side).
 */
object StreamingAudioFingerprint {

  private def landmarks(media: DataFrame, idCol: String,
      payloadCol: String, windowBytes: Int, fanout: Int,
      zone: Int): DataFrame =
    media.select(col(idCol).as("__id"),
        graft.functions.GraftFunctions.constellation_hashes(
          col(payloadCol), windowBytes, fanout, zone).as("__c"))
      .filter(size(col("__c")) >= 2)
      .select(col("__id"), explode(expr(
        """transform(sequence(1, size(__c) div 2),
          |  i -> struct(element_at(__c, CAST(2*i-1 AS INT)) AS h,
          |              element_at(__c, CAST(2*i AS INT)) AS a))"""
          .stripMargin)).as("__p"))
      .select(col("__id"), col("__p.h").as("__h"), col("__p.a").as("__a"))

  /** Seed the index from an existing corpus (empty frame = cold start). */
  def seedIndex(corpus: DataFrame, idCol: String, payloadCol: String,
      indexDir: String, windowBytes: Int = 16, fanout: Int = 3,
      zone: Int = 16): Unit =
    LandmarkAlign.seed(
      landmarks(corpus, idCol, payloadCol, windowBytes, fanout, zone),
      indexDir)

  /** All drained pairs: (idA, idB, t_offset, n_aligned), each exactly
    * once.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    LandmarkAlign.pairs(spark, pairsDir, "t_offset")

  def start(spark: SparkSession, source: DataFrame,
      idCol: String, payloadCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      windowBytes: Int = 16, fanout: Int = 3, zone: Int = 16,
      minAligned: Int = 3, maxHashGroup: Int = 10000): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(indexDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, payloadCol, indexDir,
          pairsDir, windowBytes, fanout, zone, minAligned, maxHashGroup)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`. Landmark extraction is
    * the modality-specific part; everything after is [[LandmarkAlign]].
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, indexDir: String,
      pairsDir: String, windowBytes: Int, fanout: Int, zone: Int,
      minAligned: Int, maxHashGroup: Int): Unit =
    LandmarkAlign.processBatch(
      landmarks(batch, idCol, payloadCol, windowBytes, fanout, zone),
      batchId, indexDir, pairsDir, "t_offset", minAligned, maxHashGroup,
      "audio_fp_stream_skew_guard")

  /** Fold the tail into the partitioned base (between runs — guarded). */
  def compactState(spark: SparkSession, indexDir: String): Unit =
    LandmarkAlign.compact(spark, indexDir)
}
