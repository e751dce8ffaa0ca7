package graft.streaming

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming perceptual-hash image dedup — the ingest-time twin of the
 * batch [[Multimodal.pHashPairs]] (m10), completing the multimodal
 * streaming surface next to the text near-dup screen
 * ([[StreamingNearDup]]): each micro-batch of decoded assets hashes
 * ([[Multimodal.pHash64]] — one DCT kernel per asset), probes the
 * PERSISTENT band index for everything seen so far, emits its
 * near-duplicate pairs, and appends its own band rows so later batches
 * see it. The duplicate-upload / re-crop screen a media ingest pipeline
 * runs BEFORE storing a payload.
 *
 * Simpler than the text screen by construction: the signature IS the
 * verification evidence (one long per asset rides every index row), so
 * there is no doc store and no second verification scan — candidates
 * verify with `bit_count(xor)` right on the join output.
 *
 * Index state: skinny `(id, phash, __band, __bandkey)` rows from the
 * SHARED [[Dedup.simhashBandRows]] explode (identical bounds arithmetic
 * to the batch pairer — the pigeonhole recall guarantee needs both sides
 * banding identically), in the [[LsmParquetState]] LSM shape partitioned
 * by `(__band, __bkp)`: per batch the base is read through a PARTITION
 * filter on the delta's touched (band, prefix) pairs (a bounded driver
 * collect, ≤ bands × [[bandkeyPrefixes]]) plus the small tail — scan I/O
 * is O(touched partitions + tail), never O(corpus).
 *
 * Skew guard: stored-side bucket groups over `maxBucketSize` are DROPPED
 * with an observed metric (`phash_band_skew_guard` — the d08 streaming
 * convention; flat-color / boilerplate imagery shares hashes by the
 * million and would explode the probe quadratically). The batch m10 path
 * REFINES hot buckets instead — so the drained-equals-batch contract
 * below holds when the guard reports zero drops, and a tripped guard
 * means the batch run would have spent the refinement the stream
 * deliberately skips.
 *
 * Pair-set contract (the d09 shape, spec-pinned): after draining,
 * `pairsDir` holds exactly the batch [[Multimodal.pHashPairs]] pair set
 * over (seed ∪ all batches) restricted to pairs involving at least one
 * streamed asset — each pair surfaces ONCE, in the micro-batch of its
 * later-arriving member (within-batch pairs in their own batch).
 *
 * Delivery: exactly-once across restarts — pairs land batch-keyed with
 * overwrite, index appends land in their own tail partitions, and the
 * state scan EXCLUDES this batch's own tail, so a replayed batch
 * computes against exactly its first attempt's pre-state.
 */
object StreamingPHashDedup {

  /** Sub-partitions per band in the base layout (the
    * [[StreamingNearDup.bandkeyPrefixes]] rationale).
    */
  val bandkeyPrefixes: Int = 16

  private val layout: LsmLayout = LsmLayout(
    partitionCols = Seq("__band", "__bkp"),
    derivedCols = Seq("__bkp"),
    derive = df => df.withColumn("__bkp",
      pmod(col("__bandkey"), lit(bandkeyPrefixes.toLong)).cast("int")))

  private def bandRows(hashes: DataFrame, idCol: String,
      maxHamming: Int): DataFrame =
    Dedup.simhashBandRows(hashes, idCol, "phash", maxHamming)
      .withColumnRenamed("__simhash", "phash")

  /** Seed the index from an existing corpus of (idCol, pixels) assets
    * (empty frame for a cold start).
    */
  def seedIndex(corpus: DataFrame, idCol: String, pixelsCol: String,
      indexDir: String, maxHamming: Int = 10): Unit = {
    val hashes = Multimodal.pHash64(corpus, idCol, pixelsCol)
    LsmParquetState.seed(bandRows(hashes, idCol, maxHamming), indexDir,
      layout)
  }

  /** All drained pairs: (idA, idB, hamming), each pair exactly once. */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir).select("idA", "idB", "hamming")

  def start(spark: SparkSession, source: DataFrame,
      idCol: String, pixelsCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      maxHamming: Int = 10, maxBucketSize: Int = 10000): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(indexDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, pixelsCol, indexDir,
          pairsDir, maxHamming, maxBucketSize)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, pixelsCol: String, indexDir: String, pairsDir: String,
      maxHamming: Int, maxBucketSize: Int): Unit = {
    val s = batch.sparkSession
    if (!LsmParquetState.exists(s, indexDir))
      LsmParquetState.seed(
        bandRows(Multimodal.pHash64(batch.limit(0), idCol, pixelsCol),
          idCol, maxHamming), indexDir, layout)
    // the delta's band rows serve three consumers (touched set, probe,
    // state append) — one kernel pass, materialized for the batch; the
    // bounded (≤ bands × bandkeyPrefixes) touched-key set rides the
    // checkpoint job as an observed aggregate
    val (deltaIdx, dim) = EagerBatch.withMetrics(
      bandRows(Multimodal.pHash64(batch, idCol, pixelsCol), idCol,
        maxHamming),
      Seq(collect_set(struct(col("__band"),
        pmod(col("__bandkey"), lit(bandkeyPrefixes.toLong)).cast("int")
          .as("__bkp"))).as("__set")))
    val touched = dim("__set").asInstanceOf[scala.collection.Seq[Any]]
      .map { case r: org.apache.spark.sql.Row => (r.getInt(0), r.getInt(1)) }
      .toIndexedSeq
    val pred =
      if (touched.isEmpty) lit(false)
      else touched.groupBy(_._1).map { case (band, ps) =>
        col("__band") === band && col("__bkp").isin(ps.map(_._2).toSeq: _*)
      }.reduce(_ || _)
    val stored = LsmParquetState.scan(s, indexDir, layout, pred,
      excludeTailBatch = Some(batchId))
    // probe side = stored ∪ the delta itself (within-batch pairs emit in
    // their own batch); stored-side hot buckets drop under the observed
    // guard — the refinement-vs-drop divergence from batch m10 is
    // documented on the object
    val probe = Dedup.capBuckets(
      stored.unionByName(deltaIdx.select(stored.columns.map(col): _*)),
      Seq("__band", "__bandkey"), maxBucketSize, "phash_band_skew_guard")
    val a = deltaIdx.select(col("__band"), col("__bandkey"),
      col(idCol).as("idA"), col("phash").as("__ha"))
    val b = probe.select(col("__band"), col("__bandkey"),
      col(idCol).as("idB"), col("phash").as("__hb"))
    a.join(b, Seq("__band", "__bandkey"))
      .filter(col("idA") =!= col("idB"))
      .select(least(col("idA"), col("idB")).as("idA"),
        greatest(col("idA"), col("idB")).as("idB"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // a delta-delta pair surfaces from both members' probes and a pair
      // can share several bands — collapse before emitting; EXCLUDE
      // pairs whose BOTH members are already stored (cannot happen: the
      // a-side is delta-only)
      .groupBy("idA", "idB").agg(first("hamming").as("hamming"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
    LsmParquetState.append(deltaIdx, indexDir, Some(batchId))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(deltaIdx)
  }

  /** Fold the tail into the partitioned base (crash-safe swap, between
    * runs — guarded).
    */
  def compactState(spark: SparkSession, indexDir: String): Unit =
    LsmParquetState.compact(spark, indexDir, layout)
}
