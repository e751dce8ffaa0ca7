package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Streaming k-anonymity / l-diversity monitor — the live counterpart of
 * the batch [[graft.operators.Governance.kAnonymityAudit]] (v03): as
 * rows arrive, keep every quasi-identifier equivalence class's audit
 * row current. The privacy gate at INGEST time: a class that is
 * k-anonymous today can silently drop below `k` relative relevance or
 * — the dangerous direction — a brand-new small class can appear and
 * sit re-identifiable for months before a batch audit runs; this
 * monitor re-emits a class the moment a batch touches it. The drained
 * report equals the batch audit over the full history (the e-series
 * contract).
 *
 * State (the e11 + e19 hybrid):
 *  - `countsDir` — ONE row per class `(quasi..., n_rows, n_sensitive)`
 *    with LATEST-BATCH-WINS tail overrides: BOTH cumulative counters
 *    live here, updated incrementally (`n_sensitive` grows by the
 *    batch's count of NEW membership facts — so the pairs store is
 *    never re-read after its append);
 *  - `pairsDir` — distinct `(quasi..., sensitive)` membership FACTS,
 *    append-only (the e19 pair recipe) — read ONLY by the per-batch
 *    anti-join that decides which facts are new. Null-sensitive rows
 *    never land here (the batch audit's countDistinct ignores nulls),
 *    and all state joins are NULL-SAFE: a NULL quasi-id tuple is its
 *    own auditable class per the v03 contract.
 * Both partition on `__qp = pmod(hash(quasi...), 32)`; a batch reads
 * only its touched class prefixes (PartitionFilter) + touched classes
 * (left-semi), appends batch-keyed (replay-overwritten — exactly-once),
 * and re-emits exactly its touched classes' audit rows.
 *
 * 100 TB posture: per batch the work is O(batch + touched class rows);
 * only skinny (quasi, sensitive) and (quasi, counters) rows move or
 * persist — never payloads.
 */
object StreamingKAnonymity {

  /** Null-safe equi-join condition between two aliased frames — quasi
    * ids (and the class keys derived from them) are NULLABLE audit
    * classes by the batch contract (v03 audits a NULL quasi-id tuple as
    * its own equivalence class), so every state join here must match
    * null keys: plain `===` would treat each null-keyed row as
    * matchless, re-appending its facts and resetting its counters every
    * batch.
    */
  private def nullSafeOn(l: String, r: String, cols: Seq[String]): Column =
    cols.map(c => col(s"$l.$c") <=> col(s"$r.$c")).reduce(_ && _)

  private def layoutFor(quasiCols: Seq[String]): LsmLayout = LsmLayout(
    partitionCols = Seq("__qp"),
    derivedCols = Seq("__qp"),
    derive = df => df.withColumn("__qp",
      pmod(hash(quasiCols.map(col): _*), lit(32)).cast("int")))

  private def ensureStores(spark: SparkSession, batchSchema: StructType,
      quasiCols: Seq[String], sensitiveCol: String, pairsDir: String,
      countsDir: String): Unit = {
    val layout = layoutFor(quasiCols)
    if (!LsmParquetState.exists(spark, pairsDir)) {
      val schema = StructType(quasiCols.map(c =>
        batchSchema(c)) :+ batchSchema(sensitiveCol))
      LsmParquetState.seed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema), pairsDir, layout)
    }
    if (!LsmParquetState.exists(spark, countsDir)) {
      val schema = StructType(quasiCols.map(c => batchSchema(c)) :+
        StructField("n_rows", LongType, nullable = false) :+
        StructField("n_sensitive", LongType, nullable = false))
      LsmParquetState.seed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema), countsDir, layout)
    }
  }

  /** Latest cumulative counters per class (base overridden by the
    * newest tail row — the e11 resolution shape).
    */
  private def currentCounts(s: SparkSession, countsDir: String,
      quasiCols: Seq[String], prefixes: Seq[Int],
      excludeTailBatch: Option[Long]): DataFrame = {
    val layout = layoutFor(quasiCols)
    val pred =
      if (prefixes.isEmpty) lit(true) else col("__qp").isin(prefixes: _*)
    val base = LsmParquetState.scanBaseOnly(s, countsDir, layout, pred)
    val tail = LsmParquetState.scanTailTagged(s, countsDir, layout,
      excludeTailBatch)
    val latest = tail.groupBy(quasiCols.map(col): _*)
      .agg(max_by(struct(col("n_rows"), col("n_sensitive")),
        col("__tail_batch")).as("__v"))
      .select(quasiCols.map(col) :+ col("__v.n_rows").as("n_rows") :+
        col("__v.n_sensitive").as("n_sensitive"): _*)
    base.as("b")
      .join(latest.select(quasiCols.map(col): _*).as("l"),
        nullSafeOn("b", "l", quasiCols), "left_anti")
      .unionByName(latest)
  }

  /** The drained report: the v03 emission schema, latest emitting batch
    * wins per class.
    */
  def report(spark: SparkSession, reportDir: String,
      quasiCols: Seq[String]): DataFrame =
    spark.read.parquet(reportDir)
      .groupBy(quasiCols.map(col): _*)
      .agg(max_by(struct(col("n_rows"), col("n_sensitive"),
          col("k_anonymous"), col("l_diverse")), col("batch").cast("long"))
        .as("__v"))
      .select(quasiCols.map(col) ++ Seq(col("__v.n_rows").as("n_rows"),
        col("__v.n_sensitive").as("n_sensitive"),
        col("__v.k_anonymous").as("k_anonymous"),
        col("__v.l_diverse").as("l_diverse")): _*)

  def start(spark: SparkSession, source: DataFrame,
      quasiCols: Seq[String], sensitiveCol: String, k: Long, l: Long,
      pairsDir: String, countsDir: String, reportDir: String,
      checkpointDir: String): StreamingQuery = {
    ensureStores(spark, source.schema, quasiCols, sensitiveCol, pairsDir,
      countsDir)
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(pairsDir, countsDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, quasiCols, sensitiveCol, k, l,
          pairsDir, countsDir, reportDir)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      quasiCols: Seq[String], sensitiveCol: String, k: Long, l: Long,
      pairsDir: String, countsDir: String, reportDir: String): Unit = {
    val s = batch.sparkSession
    val layout = layoutFor(quasiCols)
    val (rows, prefixes) = EagerBatch.withIntSet(
      batch.select((quasiCols :+ sensitiveCol).map(col): _*),
      pmod(hash(quasiCols.map(col): _*), lit(32)).cast("int"))
    ensureStores(s, rows.schema, quasiCols, sensitiveCol, pairsDir,
      countsDir)
    def q(cols: Seq[String]): Seq[Column] = cols.map(col)
    if (prefixes.isEmpty) {
      // empty batch: an empty report partition keeps replay idempotent
      rows.limit(0).groupBy(q(quasiCols): _*)
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("n_sensitive", lit(0L))
        .withColumn("k_anonymous", lit(false))
        .withColumn("l_diverse", lit(false))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(rows)
      return
    }
    val touched = rows.select(q(quasiCols): _*).distinct()
    // distinct membership facts: only NEW (class, sensitive) pairs land.
    // Null-sensitive rows carry NO membership fact — the batch audit's
    // countDistinct ignores nulls, so appending them would inflate
    // n_sensitive relative to v03 (they still count toward n_rows via
    // `delta` below)
    val batchPairs = rows.filter(col(sensitiveCol).isNotNull).distinct()
    val seenPairs = LsmParquetState.scan(s, pairsDir, layout,
      col("__qp").isin(prefixes: _*), excludeTailBatch = Some(batchId))
    val freshPairs = batchPairs.as("n")
      .join(seenPairs.as("o"),
        nullSafeOn("n", "o", quasiCols :+ sensitiveCol), "left_anti")
      .localCheckpoint(eager = true)
    LsmParquetState.append(freshPairs, pairsDir, Some(batchId))
    // cumulative counters: batch deltas + latest persisted — the pairs
    // store is NOT re-read; its delta is the fresh-pair count per class
    val delta = rows.groupBy(q(quasiCols): _*)
      .agg(count(lit(1)).as("__d"))
    val sensDelta = freshPairs.groupBy(q(quasiCols): _*)
      .agg(count(lit(1)).as("__ds"))
    val prior = currentCounts(s, countsDir, quasiCols, prefixes,
      Some(batchId)).as("c")
      .join(touched.as("t"), nullSafeOn("c", "t", quasiCols), "left_semi")
    val nextCounts = delta.as("d")
      .join(sensDelta.as("sd"), nullSafeOn("d", "sd", quasiCols),
        "left_outer")
      .join(prior.as("p"), nullSafeOn("d", "p", quasiCols), "left_outer")
      .select(quasiCols.map(c => col(s"d.$c").as(c)) :+
        (col("__d") + coalesce(col("n_rows"), lit(0L))).as("n_rows") :+
        (coalesce(col("__ds"), lit(0L)) +
          coalesce(col("n_sensitive"), lit(0L))).as("n_sensitive"): _*)
      .localCheckpoint(eager = true)
    LsmParquetState.append(nextCounts, countsDir, Some(batchId))
    nextCounts
      .select(q(quasiCols) ++ Seq(col("n_rows"), col("n_sensitive"),
        (col("n_rows") >= k).as("k_anonymous"),
        (col("n_sensitive") >= l).as("l_diverse")): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(nextCounts)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(freshPairs)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(rows)
  }

  /** Fold both stores' tails into their bases — pairs are plain facts,
    * counts resolve latest-wins. Call BETWEEN runs (guarded).
    */
  def compactState(spark: SparkSession, pairsDir: String,
      countsDir: String, quasiCols: Seq[String]): Unit = {
    val layout = layoutFor(quasiCols)
    LsmParquetState.compact(spark, pairsDir, layout)
    LsmParquetState.compact(spark, countsDir, layout,
      resolve = Some(df => df.groupBy(quasiCols.map(col): _*)
        .agg(max_by(struct(col("n_rows"), col("n_sensitive")),
          col("__tail_batch")).as("__v"))
        .select(quasiCols.map(col) :+ col("__v.n_rows").as("n_rows") :+
          col("__v.n_sensitive").as("n_sensitive"): _*)))
  }
}
