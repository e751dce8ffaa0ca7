package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming SEMANTIC duplicate screening against a persisted IVF-PQ
 * index — the embedding-space sibling of [[StreamingNearDup]]: each
 * micro-batch of new embeddings is searched against everything stored so
 * far (the seeded corpus plus all prior batches), near-duplicate hits
 * are emitted as pairs, and the batch's vectors join the state so later
 * batches see them. The ingest-time SemDeDup shape: at corpus scale the
 * screen is how new crawl embeddings are deduplicated against a
 * billions-vector corpus WITHOUT an O(batch × corpus) scan per batch.
 *
 * State, all parquet:
 *   - `<indexDir>/model` + `<indexDir>/codes`: the persisted IVF-PQ
 *     index ([[Similarity.buildIvfPqIndex]]) — the ONLY state candidate
 *     generation reads. Codes are `__list`-partitioned, so each batch's
 *     probed lists prune statically; per-batch growth is a map-only
 *     encode under the persisted codebooks
 *     ([[Similarity.encodeIntoIvfPqIndex]] — no retrain, no shuffle).
 *   - `<vecsDir>`: the original float vectors, read ONLY for the exact
 *     re-rank of ADC candidates. Shares the [[LsmParquetState]] layout:
 *     a base partitioned by `__vp = pmod(hash(id), vecPrefixes)` plus a
 *     flat tail — the re-rank read collects the candidates' bounded
 *     prefix set and prunes the base statically (the round-9 docs-store
 *     recipe), so per-batch float I/O is O(touched partitions + tail),
 *     not O(corpus · dim).
 *
 * Screening contract (oracle-gated as e10): a pair (idA, idB) surfaces
 * in idB's batch iff idA was STORED BEFORE that batch (seed or an
 * earlier batch) and exact cosine(idA, idB) ≥ `threshold`, subject to
 * the ANN recall caveat: candidates come from `nprobe` probed lists and
 * a `rerank`-deep ADC pool, so a true near-dup outside that pool is
 * missed — with exact-duplicate vectors (the planted-contract fixture
 * shape) the duplicate shares its twin's list and re-ranks at cosine
 * 1.0, so recall is structural. Batch-internal duplicates are ADMITTED
 * TOGETHER (screen the batch with [[graft.operators.Similarity]]'s
 * batch SemDeDup first if that matters).
 *
 * Delivery: pairs land in `pairsDir/batch=<id>` with overwrite and the
 * vector-store tail append is batch-keyed, so a replayed in-flight
 * batch overwrites its own output/state (the vector scan also excludes
 * the batch's own tail partition; a replayed doc additionally cannot
 * match itself — the id-equality guard). The CODES append is
 * at-least-once on replay (duplicate code rows only duplicate ADC
 * candidate entries, which the bounded top-k heap absorbs — the pair
 * set is unchanged); [[Similarity.buildIvfPqIndex]] at the next full
 * rebuild compacts them away.
 */
object StreamingSemanticScreen {

  /** Sub-partitions of the vector store base (same role as
    * [[StreamingNearDup.docIdPrefixes]]).
    */
  val vecPrefixes: Int = 64

  private def vecsLayout(idCol: String) = LsmLayout(
    partitionCols = Seq("__vp"),
    derivedCols = Seq("__vp"),
    derive = _.withColumn("__vp",
      pmod(hash(col(idCol)), lit(vecPrefixes)).cast("int")))

  /** Seed the persistent state: train + persist the IVF-PQ index over
    * the corpus and lay down the vector store. `partitionedBase = None`
    * decides the vector-store layout by corpus size
    * ([[LsmParquetState.partitionedBaseThreshold]] — the shared
    * policy); the codes table is always `__list`-partitioned (its
    * pruning key is the probe structure, not corpus size).
    */
  def seed(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, vecsDir: String, dim: Int,
      numCentroids: Int = 16, m: Int = 8, codesPerSub: Int = 16,
      kmeansIters: Int = 3,
      partitionedBase: Option[Boolean] = None): Unit = {
    Similarity.buildIvfPqIndex(corpus, idCol, vecCol, indexDir, dim,
      numCentroids, m, codesPerSub, kmeansIters)
    val vecs = corpus.select(idCol, vecCol)
    if (partitionedBase.getOrElse(LsmParquetState.autoPartitioned(corpus)))
      LsmParquetState.seed(vecs, vecsDir, vecsLayout(idCol))
    else vecs.write.mode("overwrite").parquet(vecsDir)
  }

  /** Candidate-restricted vector-store read: the candidates' bounded
    * (≤ [[vecPrefixes]]) prefix set as a PartitionFilter on the base,
    * tail unioned, legacy flat fallback — the
    * [[StreamingNearDup.prunedDocsScan]] recipe for floats.
    */
  private[streaming] def prunedVecsScan(spark: SparkSession, vecsDir: String,
      idCol: String, candIds: DataFrame,
      excludeTailBatch: Option[Long] = None): DataFrame = {
    if (!LsmParquetState.hasBase(spark, vecsDir))
      return LsmParquetState.scan(spark, vecsDir, vecsLayout(idCol),
        lit(true), excludeTailBatch)
    val prefixes = candIds
      .select(pmod(hash(col(idCol)), lit(vecPrefixes)).cast("int").as("__vp"))
      .distinct().collect().map(_.getInt(0))
    val pred =
      if (prefixes.isEmpty) lit(false)
      else col("__vp").isin(prefixes.toSeq: _*)
    LsmParquetState.scan(spark, vecsDir, vecsLayout(idCol), pred,
      excludeTailBatch)
  }

  /** Every stored vector, base ∪ tail. */
  private[streaming] def vecsSnapshot(spark: SparkSession, vecsDir: String,
      idCol: String): DataFrame =
    LsmParquetState.snapshot(spark, vecsDir, vecsLayout(idCol))

  /** Start the screen over a streaming frame of `(idCol, vecCol)` rows.
    * Ids must be unique across the corpus and the stream (the
    * [[StreamingNearDup]] contract). Emits
    * `(idA, idB, cosine)` pairs — idA stored, idB streamed — into
    * batch-keyed partitions of `pairsDir`.
    */
  def start(source: DataFrame,
      idCol: String, vecCol: String,
      indexDir: String, vecsDir: String, pairsDir: String,
      checkpointDir: String,
      threshold: Double = 0.999, k: Int = 5, nprobe: Int = 4,
      rerank: Int = 32): StreamingQuery = {
    // stored-vector compaction refuses while this query is pending/live
    LsmParquetState.startOwning(source, checkpointDir, Seq(vecsDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, vecCol, indexDir, vecsDir,
          pairsDir, threshold, k, nprobe, rerank)
    }
  }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String,
      indexDir: String, vecsDir: String, pairsDir: String,
      threshold: Double, k: Int, nprobe: Int, rerank: Int): Unit = {
    val s = batch.sparkSession
    val delta = batch.select(idCol, vecCol)
    val queries = delta.select(col(idCol).as("__qid"),
      col(vecCol).as(vecCol))
    val vecsFor: DataFrame => DataFrame =
      cands => prunedVecsScan(s, vecsDir, idCol,
        cands.select(col(idCol)), Some(batchId))
    // pairs materialize BEFORE the state appends, the StreamingNearDup
    // ordering — a batch never screens against its own appended rows
    Similarity.ivfPqTopKFromIndex(indexDir, vecsFor, queries,
        idCol, vecCol, "__qid", vecCol, k, nprobe, rerank,
        materializeCandidates = true)
      .filter(col("cosine") >= threshold && col(idCol) =!= col("__qid"))
      .select(col(idCol).as("idA"), col("__qid").as("idB"), col("cosine"))
      .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
    Similarity.encodeIntoIvfPqIndex(delta, idCol, vecCol, indexDir)
    LsmParquetState.append(delta, vecsDir, Some(batchId))
  }
}
