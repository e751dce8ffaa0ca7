package graft.streaming

import graft.operators.CorpusStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming distribution-drift monitor — the streaming sibling of the
 * batch [[CorpusStats.psiDrift]]: each micro-batch of incoming documents
 * folds its metric-bucket counts into accumulated stream state, then
 * publishes the PSI of the ACCUMULATED stream against a fixed reference
 * snapshot. A crawl pipeline watches this to catch a source going stale
 * or a scraper bug shifting the quality distribution mid-ingest.
 *
 * State is bucket counts, not rows — at most `nBuckets` longs no matter
 * how many documents stream past — so it lives as a driver-held map
 * rekindled from parquet on restart (`countsDir`), the same
 * bounded-model-state rule the IVF centroids and importance weights
 * follow. Each batch writes the updated counts (one tiny overwrite) and
 * the current PSI rows (`outDir`), so the monitor's latest verdict is
 * always on disk. Per-batch distributed work: ONE bucket-bounded
 * aggregate of the batch ([[CorpusStats.bucketCounts]]) — the reference
 * is pre-aggregated once at start.
 *
 * The drained monitor is EXACTLY the batch computation: PSI arithmetic is
 * [[CorpusStats.psiFromCounts]], shared code, fed the same integer
 * counts — gated end to end as the e06 driver query against the c09
 * oracle SQL shape.
 *
 * Delivery: state and output are idempotent under foreachBatch replay —
 * each merge drops stored deltas with `_batch_id >=` the current batch,
 * so a replayed batch OVERWRITES its own delta (never double-counts) and
 * a restart on a FRESH checkpoint (batch ids restart at 0, possibly
 * batching the source differently) resets the state and rebuilds it as
 * the new run streams; resuming from the SAME checkpoint keeps ids and
 * state aligned and continues incrementally.
 */
object StreamingDrift {

  /** Start the monitor. `reference` is a bounded frame of the metric
    * column; `source` streams frames with the same column. PSI rows land
    * in `outDir` (overwritten each batch: bucket, n_a, n_b, frac_a,
    * frac_b, psi_term — reference on the `a` side).
    */
  def start(spark: SparkSession, source: DataFrame, reference: DataFrame,
      valueCol: String, countsDir: String, outDir: String,
      checkpointDir: String, nBuckets: Int = 10,
      eps: Double = 1e-6): StreamingQuery = {
    require(!reference.isStreaming, "the reference must be a bounded batch frame")
    // reference counts: one aggregate, nBuckets rows — bounded model
    // state. A null metric buckets to a null key, carried as None so the
    // monitor matches batch psiDrift on the same input (null join keys
    // never match, exactly as in the batch full-outer join)
    val refCounts: Array[(Option[Int], Long)] =
      CorpusStats.bucketCounts(reference, valueCol, nBuckets, "n_a")
        .collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getLong(1)))
    val refTotal = refCounts.map(_._2).sum

    LsmParquetState.startOwning(source, checkpointDir, Nil) {
      (batch, batchId) =>
        val s = batch.sparkSession
        import s.implicits._
        val delta = CorpusStats.bucketCounts(batch, valueCol, nBuckets, "n")
          .select(col("bucket"), col("n"), lit(batchId).as("_batch_id"))
        // merge-by-rewrite of the bucket-bounded state: drop every stored
        // delta with id >= this batch. Within a run that is only a
        // foreachBatch replay of THIS batch (overwrite, never
        // double-count); after a restart on a FRESH checkpoint, batch 0
        // resets the state outright — the new run may batch the source
        // differently, so the old decomposition's rows cannot be trusted
        // (resuming from the SAME checkpoint keeps ids and state aligned)
        val prior = try {
          s.read.parquet(countsDir).filter(col("_batch_id") < batchId)
        } catch { case _: org.apache.spark.sql.AnalysisException =>
          Seq.empty[(Option[Int], Long, Long)].toDF("bucket", "n", "_batch_id")
        }
        // the union is bucket-bounded (nBuckets rows per batch id seen) —
        // collecting it IS the sanctioned bounded-state read, and writing
        // back from driver-local rows breaks the read-overwrite cycle
        val merged = prior.unionByName(delta).collect()
          .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
            r.getLong(1), r.getLong(2)))
        merged.toSeq.toDF("bucket", "n", "_batch_id")
          .coalesce(1).write.mode("overwrite").parquet(countsDir)
        // publish PSI of the accumulated stream vs the reference
        val cum = merged.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        val streamTotal = cum.map(_._2).sum
        if (streamTotal > 0) {
          CorpusStats.psiFromCounts(
              refCounts.toSeq.toDF("bucket", "n_a"),
              cum.toDF("bucket", "n_b"),
              refTotal, streamTotal, eps)
            .coalesce(1).write.mode("overwrite").parquet(outDir)
        }
    }
  }
}
