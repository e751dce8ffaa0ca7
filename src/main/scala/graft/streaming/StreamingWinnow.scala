package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming winnowing (MOSS) overlap screen — the ingest-time form of
 * [[Dedup.winnowingPairs]] and the last corpus-scale dedup family
 * without one (r10 verdict #6): each micro-batch of documents is
 * fingerprinted (sliding-window minima of k-gram hashes — Schleimer,
 * Wilkerson & Aiken, SIGMOD 2003), probed against the PERSISTED
 * fingerprint index of everything seen so far, and every (old, new) or
 * (new, new) pair sharing ≥ `minShared` fingerprints lands in a
 * batch-keyed pairs partition. The winnowing guarantee survives
 * streaming: any verbatim overlap of ≥ window+k−1 characters between a
 * streamed doc and ANY earlier doc is certain to share a fingerprint.
 *
 * State — one [[LsmParquetState]] store (the d09 recipe, but winnowing
 * needs no doc store: fingerprints alone carry the overlap count):
 *   - `indexDir`: skinny (__fp, id) rows, base partitioned by
 *     `__fpp = pmod(__fp, 64)` — a batch's probe reads ONLY its own
 *     fingerprints' prefix partitions (bounded ≤ 64-int collect →
 *     PartitionFilter, static pruning), unioned with the small tail.
 *
 * Per-batch plan: delta fingerprints explode to skinny rows (text never
 * shuffles and never persists); the probe is a fingerprint equi-join of
 * the delta against (stored ∪ delta) with the [[Dedup.capBuckets]] skew
 * guard over the union — a boilerplate fingerprint arriving at volume is
 * dropped (observe-reported) instead of going quadratic; the shared
 * count is one hash aggregate on the normalized (idA, idB) key.
 *
 * Pair-set contract (spec-pinned): after draining, `pairsDir` holds
 * exactly the batch [[Dedup.winnowingPairs]] result over everything
 * streamed, each pair surfacing once — in the micro-batch of its
 * later-arriving member (stored ids never pair with each other again).
 *
 * Exactly-once: pairs overwrite `pairsDir/batch=<id>`, index appends
 * land in `tail/batch=<id>`, and the probe EXCLUDES this batch's own
 * tail — a foreachBatch replay computes against exactly its first
 * attempt's pre-state (the d09 delivery contract).
 */
object StreamingWinnow {

  /** Sub-partitions of the fingerprint index base. */
  val prefixes: Int = 64

  private val idxLayout = LsmLayout(Seq("__fpp"), Seq("__fpp"),
    _.withColumn("__fpp", pmod(col("__fp"), lit(prefixes.toLong)).cast("int")))

  /** Skinny (id, __fp) fingerprint rows of a doc frame — the same
    * normalize + winnow kernel chain as [[Dedup.winnowingPairs]], so
    * drained pairs replay against the batch operator's oracle.
    */
  private def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int, window: Int): DataFrame =
    docs.select(col(idCol).as("__id"),
      explode(graft.functions.GraftFunctions.winnow_hashes(
        Dedup.normalized(col(textCol)), k, window)).as("__fp"))

  /** Seed the index from an initial corpus (partitioned base). */
  def seedIndex(corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, k: Int = 16, window: Int = 16): Unit =
    LsmParquetState.seed(fingerprints(corpus, idCol, textCol, k, window),
      indexDir, idxLayout)

  /** Fold the index tail into a fresh partitioned base. Call BETWEEN
    * runs.
    */
  def compactState(spark: SparkSession, indexDir: String): Unit =
    LsmParquetState.compact(spark, indexDir, idxLayout)

  def start(source: DataFrame,
      idCol: String, textCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      k: Int = 16, window: Int = 16, minShared: Long = 2,
      maxBucketSize: Int = 1000): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(indexDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, textCol, indexDir, pairsDir,
          k, window, minShared, maxBucketSize)
    }
  }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String, pairsDir: String,
      k: Int, window: Int, minShared: Long, maxBucketSize: Int): Unit = {
    val s = batch.sparkSession
    // the delta's fingerprints are needed three times (touched prefixes,
    // probe, state append) — computed once per batch
    val deltaFp = fingerprints(batch, idCol, textCol, k, window).persist()
    try {
      if (!LsmParquetState.hasBase(s, indexDir)) {
        // literal-schema empty frame — a limit(0) of the live delta
        // would drag the whole batch plan into the seed write (the e11
        // first-contact lesson)
        import org.apache.spark.sql.types._
        LsmParquetState.seed(
          s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("__id", batch.schema(idCol).dataType),
              StructField("__fp", LongType)))),
          indexDir, idxLayout)
      }
      // bounded driver collect: ≤ `prefixes` ints however large the batch
      val touched = deltaFp
        .select(pmod(col("__fp"), lit(prefixes.toLong)).cast("int").as("__fpp"))
        .distinct().collect().map(_.getInt(0))
      val pred =
        if (touched.isEmpty) lit(false)
        else col("__fpp").isin(touched.toSeq: _*)
      val stored = LsmParquetState.scan(s, indexDir, idxLayout, pred,
        Some(batchId))
      // skew guard over the COMBINED bucket (stored + delta members):
      // the d16 cross-corpus recipe — a fingerprint's pair fan-out is
      // driven by its total occupancy, not either side alone
      val all = stored.select(col("__fp"), col("__id"), lit(false).as("__new"))
        .unionByName(deltaFp.select(col("__fp"), col("__id"),
          lit(true).as("__new")))
      val guarded = Dedup.capBuckets(all, Seq("__fp"), maxBucketSize,
        "winnow_stream_buckets")
      val a = guarded.filter(col("__new"))
        .select(col("__fp"), col("__id").as("__ida"))
      val b = guarded.select(col("__fp"), col("__id").as("__idb"),
        col("__new").as("__bnew"))
      // each unordered pair counts each shared fingerprint ONCE: a is
      // always a delta doc; a stored partner joins in its single b-side
      // form, a delta partner only in the id-ordered direction
      a.join(b, Seq("__fp"))
        .filter(!col("__bnew") || col("__ida") < col("__idb"))
        .filter(col("__ida") =!= col("__idb"))
        .select(least(col("__ida"), col("__idb")).as("idA"),
          greatest(col("__ida"), col("__idb")).as("idB"))
        .groupBy("idA", "idB")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      LsmParquetState.appendTail(deltaFp, indexDir, Some(batchId))
    } finally deltaFp.unpersist(blocking = false)
  }

  /** The drained pair set (all batch partitions). */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    BatchMarker.readAll(spark, pairsDir)
      .select("idA", "idB", "n_shared")
}
