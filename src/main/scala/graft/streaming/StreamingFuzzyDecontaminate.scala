package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming fuzzy-decontamination screen — the ingest-time form of
 * [[Dedup.fuzzyDecontaminate]]: every micro-batch of crawl documents is
 * screened against a STATIC benchmark set with cross-corpus MinHash-LSH
 * (paraphrase-robust, where the Bloom screen in
 * [[StreamingDecontaminate]] catches only exact n-gram overlap), and the
 * surviving documents land in a batch-keyed partition.
 *
 * Bench posture: the benchmark is bounded and static by contract
 * (`require(!bench.isStreaming)`) — its LSH buckets and shingle-hash
 * sets are computed ONCE at plan time and persisted, so a micro-batch
 * never re-shingles the benchmark; per batch the only work is the
 * batch-side banding, the skinny capped bucket join and candidate-only
 * Jaccard verification ([[Dedup.crossPairsAgainst]], combined-bucket
 * skew guard included). No LSM state is needed: decontamination is
 * per-document against a fixed reference, so batches are independent.
 *
 * Exactly-once: kept rows overwrite `keptDir/batch=<id>` — a replayed
 * batch replaces its own output (the e08 pattern). The drained union of
 * batch partitions equals the batch [[Dedup.fuzzyDecontaminate]] over
 * the concatenated stream row-for-row.
 */
object StreamingFuzzyDecontaminate {

  def start(source: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, keptDir: String, checkpointDir: String,
      threshold: Double = 0.8, shingleK: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4, maxBucketSize: Int = 1000): StreamingQuery = {
    require(!bench.isStreaming, "the benchmark must be a bounded batch frame")
    val benchBuckets = Dedup.lshBuckets(bench, idCol, textCol, shingleK,
        bands, rowsPerBand)
      .select(col("__band"), col("__bandkey"), col(idCol).as("__id"))
      .persist()
    val benchSets = Dedup.shingleSetsOf(bench, idCol, textCol, shingleK,
      "idB", "__shB").persist()
    LsmParquetState.startOwning(source, checkpointDir, Nil) {
      (batch, batchId) =>
        processBatch(batch, batchId, benchBuckets, benchSets, idCol, textCol,
          keptDir, threshold, shingleK, bands, rowsPerBand, maxBucketSize)
    }
  }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      benchBuckets: DataFrame, benchSets: DataFrame, idCol: String,
      textCol: String, keptDir: String, threshold: Double, shingleK: Int,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int): Unit = {
    val hits = Dedup.crossPairsAgainst(batch, benchBuckets, benchSets,
        idCol, textCol, threshold, shingleK, bands, rowsPerBand, maxBucketSize)
      .select(col("idA").as(idCol)).distinct()
    batch.join(hits, Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(s"$keptDir/batch=$batchId")
  }

  /** The drained kept set (all batch partitions). */
  def kept(spark: SparkSession, keptDir: String): DataFrame =
    BatchMarker.readAll(spark, keptDir)
}
