package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming near-duplicate screening with PERSISTENT index state — the
 * production composition of [[graft.operators.Dedup.minhashNearDupPairsIncremental]]:
 * each micro-batch of new documents dedups against everything seen so far
 * (the seeded corpus plus all prior batches), then appends its own skinny
 * LSH index rows and doc rows so later batches see it.
 *
 * State lives in parquet, NOT executor memory — at corpus scale the index
 * is billions of skinny `(id, band, key)` rows, far past any state store.
 * Per-batch cost: the stored index is read map-only and never exchanged
 * (a broadcast semi join restricts it to the delta's bucket keys before
 * anything shuffles, see [[Dedup.minhashNearDupPairsIncremental]]'s
 * shuffle accounting); shuffled bytes are proportional to the delta's
 * touched buckets, not the corpus.
 *
 * Index layout — an LSM shape for STATIC file pruning without per-batch
 * write fan-out:
 *   - `<dir>/base`: the corpus-scale part, partitioned by
 *     `(__band, __bkp)` where `__bkp` is a [[bandkeyPrefixes]]-way prefix
 *     of the bucket key. Written ONCE at seed (and at each compaction),
 *     so the one wide fan-out write is amortized over the run.
 *   - `<dir>/tail`: a flat append log of the recent deltas' index rows.
 *     Micro-batches append a handful of plain files here — never a
 *     per-partition fan-out.
 * A micro-batch collects its (bounded, ≤ bands × prefixes)
 * touched-partition set from the delta's index and reads `base` through a
 * PARTITION filter on exactly those pairs — unmatched sub-directories'
 * files are never opened — then unions the (small) tail. The semi join
 * above restricted shuffled BYTES to O(delta); this restricts per-batch
 * scan I/O to O(touched base partitions + tail), and [[compactState]]
 * periodically folds the tail into the partitioned base to keep the tail
 * small. Plan-pinned in the streaming spec: the base read carries the
 * touched-pair predicate as a PartitionFilter, never a row filter.
 *
 * The DOC store shares the same LSM shape, partitioned by
 * `__idp = pmod(hash(id), docIdPrefixes)`: verification reads only the
 * candidate pairs' member docs, so each batch collects the candidates'
 * bounded prefix set and reads the corpus-text base through a partition
 * filter on it — the per-batch verification scan is O(touched prefix
 * partitions + tail), not O(corpus text). [[compactDocsState]] folds its
 * tail. Both stores fall back to plain scans on legacy flat directories.
 *
 * Pair-set contract (spec-pinned): after draining the stream, `pairsDir`
 * holds exactly the batch run's pairs over (corpus ∪ all batches)
 * restricted to pairs involving at least one streamed doc — each pair
 * surfaces once, in the micro-batch of its later-arriving member.
 *
 * Delivery: EXACTLY-ONCE across restarts on the LSM layout. Every
 * per-batch write keys on the foreachBatch batch id — pairs land in
 * `pairsDir/batch=<id>` with overwrite, and the index/doc tail appends
 * land in their own `tail/batch=<id>` partitions — so a replayed
 * in-flight batch overwrites exactly its own output and state instead of
 * appending duplicates (replay-spec-pinned). Read pairs with
 * `spark.read.parquet(pairsDir)` and select the pair columns (the
 * `batch` partition column comes along otherwise). Pairs are batch-keyed
 * regardless of store layout; only a LEGACY flat store's STATE appends
 * degrade to at-least-once (plain root files) — duplicate state rows
 * remain harmless for pair existence either way, since candidates are
 * `distinct`ed before verification.
 */
object StreamingNearDup {

  /** Sub-partitions per band in the base index layout: `__bkp =
    * pmod(__bandkey, bandkeyPrefixes)`. bands × prefixes directories
    * total — coarse enough that each holds GBs at corpus scale, fine
    * enough that a small micro-batch prunes most base files statically
    * (a 1-doc delta touches 1 of [[bandkeyPrefixes]] prefixes per band).
    */
  val bandkeyPrefixes: Int = 16

  private def bkp: Column =
    pmod(col("__bandkey"), lit(bandkeyPrefixes.toLong)).cast("int")

  private val layout = LsmLayout(
    partitionCols = Seq("__band", "__bkp"),
    derivedCols = Seq("__bkp"),
    derive = _.withColumn("__bkp", bkp))

  /** Sub-partitions of the DOCS store base: `__idp = pmod(hash(id),
    * docIdPrefixes)`. Verification reads only the candidate pairs' member
    * docs, and candidates are micro-batch-bounded — collecting their
    * (≤ [[docIdPrefixes]]) distinct prefixes statically prunes the
    * corpus-text base the same way the index's touched pairs do.
    */
  val docIdPrefixes: Int = 64

  private def docsLayout(idCol: String) = LsmLayout(
    partitionCols = Seq("__idp"),
    derivedCols = Seq("__idp"),
    derive = _.withColumn("__idp",
      pmod(hash(col(idCol)), lit(docIdPrefixes)).cast("int")))

  /** Seed the persistent state from the initial corpus: the LSH index
    * (the ONLY corpus state candidate generation ever reads) and the doc
    * store (read only for verification candidates).
    *
    * `partitionedBase` picks the layout; `None` (default) decides by
    * corpus size against [[LsmParquetState.partitionedBaseThreshold]] —
    * the single policy shared with [[StreamingCuration]]. Partitioned:
    * the index base is `(__band, __bkp)`-partitioned and the docs base
    * `__idp = pmod(hash(id), docIdPrefixes)`-partitioned, so each batch
    * statically prunes both reads to its touched partitions — the
    * corpus-scale posture. Flat: both stores are plain parquet (the
    * fully-supported legacy posture) — cheaper end-to-end below the
    * crossover, where every batch touches most partitions anyway
    * (isolated A/B in BENCH_AB_r09.md). Results are identical either
    * way (spec-pinned); [[start]] detects the layout per batch.
    */
  def seedIndex(corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, docsDir: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      partitionedBase: Option[Boolean] = None): Unit = {
    val partitioned = partitionedBase
      .getOrElse(LsmParquetState.autoPartitioned(corpus))
    val idx = Dedup.lshBuckets(corpus, idCol, textCol, shingleK, bands,
      rowsPerBand)
    val docs = corpus.select(idCol, textCol)
    if (partitioned) {
      LsmParquetState.seed(idx, indexDir, layout)
      LsmParquetState.seed(docs, docsDir, docsLayout(idCol))
    } else {
      idx.write.mode("overwrite").parquet(indexDir)
      docs.write.mode("overwrite").parquet(docsDir)
    }
  }

  /** Per-batch append: plain flat files into the tail log — O(writing
    * tasks) files, no partition fan-out. [[compactState]] folds the tail
    * into the base. A LEGACY flat store (seeded before the LSM layout)
    * keeps appending flat at the root — a tail under a flat store would
    * be invisible to its plain reads.
    */
  private[streaming] def appendIndex(idx: DataFrame, indexDir: String,
      batchId: Option[Long] = None): Unit =
    LsmParquetState.append(idx, indexDir, batchId)

  /** Per-batch doc append — tail log on an LSM docs store, flat at the
    * root on a legacy flat store (same posture rule as [[appendIndex]]).
    */
  private[streaming] def appendDocs(delta: DataFrame, docsDir: String,
      batchId: Option[Long] = None): Unit =
    LsmParquetState.append(delta, docsDir, batchId)

  /** Every doc row, base ∪ tail — the compaction/inspection read. */
  private[streaming] def docsSnapshot(spark: SparkSession, docsDir: String,
      idCol: String): DataFrame =
    LsmParquetState.snapshot(spark, docsDir, docsLayout(idCol))

  /** Read the persistent index restricted to the given touched
    * `(__band, __bkp)` partition pairs: the base through a partition
    * filter (resolved at PLANNING time against the directory values, so
    * unmatched sub-partitions' files are never opened — static pruning,
    * not a row filter), unioned with the full (small) tail. Falls back
    * to a plain scan on a legacy flat layout (no `base` subdirectory).
    */
  private[streaming] def prunedIndexScan(spark: SparkSession, indexDir: String,
      touched: Array[(Int, Int)],
      excludeTailBatch: Option[Long] = None): DataFrame = {
    val pred =
      if (touched.isEmpty) lit(false)
      else touched.groupBy(_._1).map { case (band, pairs) =>
        col("__band") === band && col("__bkp").isin(pairs.map(_._2).toSeq: _*)
      }.reduce(_ || _)
    LsmParquetState.scan(spark, indexDir, layout, pred, excludeTailBatch)
  }

  /** Every index row, base ∪ tail — the compaction/inspection read. */
  private[streaming] def indexSnapshot(spark: SparkSession,
      indexDir: String): DataFrame =
    LsmParquetState.snapshot(spark, indexDir, layout)

  /** Read the doc store restricted to the given candidate ids' prefix
    * partitions: collects the candidates' distinct `__idp` values — a
    * bounded driver collect, at most [[docIdPrefixes]] ints however many
    * candidates the batch has — and reads the base through a PARTITION
    * filter on them (static pruning; unmatched prefix directories' files
    * are never opened), unioned with the (small) tail of recent batch
    * appends. Verification's row-level candidate semi join still runs
    * downstream; this only bounds scan I/O. Falls back to a plain scan
    * on a legacy flat docs store (no `base` subdirectory).
    */
  private[streaming] def prunedDocsScan(spark: SparkSession, docsDir: String,
      idCol: String, candIds: DataFrame,
      excludeTailBatch: Option[Long] = None): DataFrame = {
    if (!LsmParquetState.hasBase(spark, docsDir))
      return LsmParquetState.scan(spark, docsDir, docsLayout(idCol), lit(true),
        excludeTailBatch)
    val prefixes = candIds
      .select(pmod(hash(col(idCol)), lit(docIdPrefixes)).cast("int").as("__idp"))
      .distinct().collect().map(_.getInt(0))
    val pred =
      if (prefixes.isEmpty) lit(false)
      else col("__idp").isin(prefixes.toSeq: _*)
    LsmParquetState.scan(spark, docsDir, docsLayout(idCol), pred,
      excludeTailBatch)
  }

  /** Heal a state directory after a crash mid-[[compactState]] swap —
    * see [[LsmParquetState.recover]]. Idempotent; call at startup (or
    * rely on [[compactState]], which self-heals first).
    */
  def recoverState(spark: SparkSession, dir: String): Unit =
    LsmParquetState.recover(spark, dir)

  /** Compact the persistent INDEX directory in place: folds the tail
    * into a fresh `(__band, __bkp)`-partitioned base (one file per live
    * sub-partition) — see [[LsmParquetState.compact]] for the crash-safe
    * swap contract. Call BETWEEN runs (stream stopped). For the DOCS
    * directory use [[compactDocsState]] (different partition layout —
    * this one fails loudly on a docs store rather than corrupt it).
    */
  def compactState(spark: SparkSession, dir: String,
      rowsPerFile: Long = 8L * 1024 * 1024): Unit =
    LsmParquetState.compact(spark, dir, layout, rowsPerFile)

  /** Compact the persistent DOCS directory in place: folds the tail of
    * per-batch doc appends into a fresh `__idp`-partitioned base, or
    * rewrites a legacy flat docs store to few flat files. Same
    * crash-safe swap and between-runs contract as [[compactState]].
    */
  def compactDocsState(spark: SparkSession, docsDir: String, idCol: String,
      rowsPerFile: Long = 8L * 1024 * 1024): Unit =
    LsmParquetState.compact(spark, docsDir, docsLayout(idCol), rowsPerFile)

  /** Start the screen over a streaming frame of `(idCol, textCol)` docs.
    * Ids must be unique across the corpus and the stream. Rate limiting
    * belongs on the caller's source (`maxFilesPerTrigger` /
    * `maxOffsetsPerTrigger` on the readStream) — this method takes the
    * frame as-is. `spark` is unused; it stays because the perfbench
    * harness's `neardup-stream` workload passes it.
    */
  def start(spark: SparkSession, source: DataFrame,
      idCol: String, textCol: String,
      indexDir: String, docsDir: String, pairsDir: String,
      checkpointDir: String,
      threshold: Double = 0.8, shingleK: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 4, maxBucketSize: Int = 1000,
      restrictToTouched: Boolean = true): StreamingQuery = {
    // compaction of either state dir refuses while this query is
    // pending/live
    LsmParquetState.startOwning(source, checkpointDir, Seq(indexDir, docsDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, textCol, indexDir, docsDir,
          pairsDir, threshold, shingleK, bands, rowsPerBand, maxBucketSize,
          restrictToTouched)
    }
  }

  /** One micro-batch of the screen — the foreachBatch body, split out so
    * the replay spec can drive it with a pinned `batchId` through the
    * exact production path. All three writes key on the batch id, so a
    * foreachBatch replay after a crash lands the batch exactly once:
    * pairs overwrite their own `batch=<id>` partition, the index/doc
    * tail appends overwrite theirs ([[LsmParquetState.appendTail]]), and
    * both state scans EXCLUDE this batch's own tail partitions — the
    * replay computes against exactly its first attempt's pre-state
    * (half-appended own rows would duplicate verification docs and
    * drift the skew-guard's bucket counts).
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      indexDir: String, docsDir: String, pairsDir: String,
      threshold: Double, shingleK: Int, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int, restrictToTouched: Boolean): Unit = {
    val s = batch.sparkSession
    val delta = batch.select(idCol, textCol)
    // verification reads the doc store AFTER candidates exist, so the
    // read can statically prune to the candidates' id-prefix
    // partitions (bounded collect inside prunedDocsScan) instead of
    // scanning the corpus text per batch
    val docsFor: DataFrame => DataFrame =
      candIds => prunedDocsScan(s, docsDir, idCol, candIds, Some(batchId))
    // the delta's LSH index is needed three times — the touched-
    // partition set, candidate generation and the state append — so
    // it is computed ONCE and cached for the batch (repeated
    // shingle+minhash kernel passes per micro-batch are pure waste)
    val deltaIdx = Dedup.lshBuckets(delta, idCol, textCol, shingleK,
      bands, rowsPerBand).persist()
    try {
      // bounded driver collect: at most bands × bandkeyPrefixes rows
      // regardless of delta size — the key set that statically prunes
      // the base read below
      val touched = deltaIdx
        .select(col("__band"), bkp.as("__bkp")).distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      val index = prunedIndexScan(s, indexDir, touched, Some(batchId))
      // pairs materialize BEFORE the state appends below, so a batch
      // never pairs against its own appended rows twice
      // micro-batch deltas are small in production (the broadcast
      // touched-bucket restriction is the right default); callers
      // replaying corpus-scale batches can opt out to shuffle posture
      Dedup.minhashNearDupPairsIncremental(index, docsFor, delta, deltaIdx,
          idCol, textCol, threshold, shingleK, maxBucketSize,
          restrictToTouched, materializeIntermediates = true)
        .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      appendIndex(deltaIdx, indexDir, Some(batchId))
      appendDocs(delta, docsDir, Some(batchId))
    } finally deltaIdx.unpersist(blocking = false)
  }
}
