package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming content-defined chunk dedup — the live counterpart of the
 * batch [[graft.operators.Multimodal.payloadChunkDedup]] (m08): as
 * binary payloads arrive, keep the corpus-wide storage-dedup report
 * (total vs distinct chunk bytes) current. The ingest-time answer to
 * "how much is this crawl REALLY adding" — a mirror-heavy batch shows
 * up as a dedup_ratio collapse while it streams in, before a byte of
 * it is committed to the lake. The drained report equals the batch
 * operator over the full payload history (the e-series contract).
 *
 * State: the distinct chunk keys `(h, len)` seen so far, in an
 * [[LsmParquetState]] partitioned by `__hp = pmod(h, 32)` — chunk-key
 * rows are immutable (the d09/e19 recipe: append-only facts, no
 * overrides needed). Each batch chunks its payloads with the SAME
 * kernel as m08 (ONE codegen pass, payload bytes never shuffle),
 * anti-joins its distinct keys against the store, appends only the NEW
 * keys batch-keyed (`tail/batch=<id>`, overwritten on replay —
 * exactly-once), and emits that batch's DELTAS
 * (docs, chunks, bytes, new unique chunks, new unique bytes);
 * [[report]] folds the deltas — pure sums, so latest-wins resolution
 * is unnecessary and replayed batches cannot double-count.
 *
 * 100 TB posture: per batch the work is O(batch + matched state
 * prefixes); only 16-byte chunk-key rows ever shuffle or persist.
 */
object StreamingChunkDedup {

  private[streaming] val layout = LsmLayout(
    partitionCols = Seq("__hp"),
    derivedCols = Seq("__hp"),
    derive = _.withColumn("__hp", pmod(col("h"), lit(32)).cast("int")))

  private def ensureStore(spark: SparkSession, chunksDir: String): Unit =
    if (!LsmParquetState.exists(spark, chunksDir)) {
      val empty = spark.range(0)
        .select(col("id").as("h"), col("id").as("len"))
      LsmParquetState.seed(empty, chunksDir, layout)
    }

  /** The drained report — the m08 emission schema, folded from the
    * per-batch deltas.
    */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .agg(coalesce(sum(col("d_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("d_bytes")), lit(0L)).as("total_bytes"),
        coalesce(sum(col("d_chunks")), lit(0L)).as("n_chunks"),
        coalesce(sum(col("d_unique")), lit(0L)).as("n_unique_chunks"),
        coalesce(sum(col("d_unique_bytes")), lit(0L)).as("unique_bytes"))
      .select(col("n_docs"), col("total_bytes"), col("n_chunks"),
        col("n_unique_chunks"), col("unique_bytes"),
        when(col("total_bytes") === 0, lit(1.0))
          .otherwise(round(col("unique_bytes").cast("double") /
            col("total_bytes").cast("double"), 6) + lit(0.0))
          .as("dedup_ratio"))

  def start(spark: SparkSession, source: DataFrame, idCol: String,
      payloadCol: String, chunksDir: String, reportDir: String,
      checkpointDir: String, minSize: Int = 32, maskBits: Int = 6,
      maxSize: Int = 256): StreamingQuery = {
    ensureStore(spark, chunksDir)
    LsmParquetState.startOwning(source, checkpointDir, Seq(chunksDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, payloadCol, chunksDir,
          reportDir, minSize, maskBits, maxSize)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, chunksDir: String,
      reportDir: String, minSize: Int, maskBits: Int,
      maxSize: Int): Unit = {
    val s = batch.sparkSession
    ensureStore(s, chunksDir)
    // the batch doc count rides the pairs checkpoint as an observed
    // count placed below the chunk kernel — formerly its own batch.count
    // job
    val obsDocs = Observation("e23_docs_" + java.util.UUID.randomUUID())
    val pairs0 = batch
      .observe(obsDocs, count(lit(1)).as("d_docs"))
      .select(graft.functions.GraftFunctions
        .cdc_chunks(col(payloadCol), minSize, maskBits, maxSize).as("__c"))
      .filter(size(col("__c")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(__c) div 2),
          |  i -> struct(element_at(__c, CAST(2*i AS INT)) AS h,
          |              element_at(__c, CAST(2*i-1 AS INT)) AS len))"""
          .stripMargin)).as("__p"))
      .select(col("__p.h").as("h"), col("__p.len").as("len"))
    // bounded observed set: the batch's touched hash prefixes (<= 32;
    // chunk hashes are uniform, so usually all of them — the filter is
    // for small/early batches), computed inside the checkpoint job
    // chunk/byte totals ride the same checkpoint job as the prefix set
    val (pairs, mTot) = EagerBatch.withMetrics(pairs0, Seq(
      collect_set(pmod(col("h"), lit(32)).cast("int")).as("__set"),
      count(lit(1)).as("d_chunks"),
      coalesce(sum(col("len")), lit(0L)).as("d_bytes")))
    val prefixes = EagerBatch.intSet(mTot, "__set")
    val nDocs = obsDocs.get("d_docs").asInstanceOf[Long]
    val batchDistinct = pairs.distinct()
    val seen =
      if (prefixes.isEmpty) LsmParquetState.scan(s, chunksDir, layout,
        lit(false), excludeTailBatch = Some(batchId)).limit(0)
      else LsmParquetState.scan(s, chunksDir, layout,
        col("__hp").isin(prefixes: _*), excludeTailBatch = Some(batchId))
    // the unique totals ride the fresh-chunk checkpoint as observed
    // aggregates — formerly their own aggregate job
    val obsUq = Observation("e23_uq_" + java.util.UUID.randomUUID())
    val fresh = batchDistinct.join(seen, Seq("h", "len"), "left_anti")
      .observe(obsUq, count(lit(1)).as("d_unique"),
        coalesce(sum(col("len")), lit(0L)).as("d_unique_bytes"))
      .localCheckpoint(eager = true)
    LsmParquetState.append(fresh, chunksDir, Some(batchId))
    val uqM = obsUq.get
    import s.implicits._
    Seq((nDocs, mTot("d_bytes").asInstanceOf[Long],
        mTot("d_chunks").asInstanceOf[Long],
        uqM("d_unique").asInstanceOf[Long],
        uqM("d_unique_bytes").asInstanceOf[Long]))
      .toDF("d_docs", "d_bytes", "d_chunks", "d_unique", "d_unique_bytes")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(fresh)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pairs)
  }

  /** Fold the chunk-key tail into the partitioned base. Call BETWEEN
    * runs (guarded).
    */
  def compactState(spark: SparkSession, chunksDir: String): Unit =
    LsmParquetState.compact(spark, chunksDir, layout)
}
