package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Streaming t-closeness monitor — the live counterpart of the batch
 * [[graft.operators.Governance.tClosenessAudit]] (v04/v05), closing the
 * governance family's streaming gap: k-anonymity/l-diversity already
 * stream (e24), but the deployment risk t-closeness guards — a class's
 * sensitive-value distribution drifting out of the `t` bound as batches
 * land — only showed up at the next batch audit.
 *
 * State (the e24 class-count recipe + the e25 global scalar store):
 *  - `valsDir` — ONE row per (quasi…, value): the cumulative count,
 *    latest-tail-batch-wins (the e11 counter resolution), partitioned on
 *    the class-hash prefix so a batch reads only touched prefixes;
 *  - `globalDir` — the GLOBAL per-value counts (value-vocabulary-bounded,
 *    the bounded-cardinality metric contract of the batch audit),
 *    latest-wins per value. This is what makes the per-batch emission
 *    O(touched + m) instead of O(all classes): EMD needs the corpus
 *    distribution, and the store carries it without rescanning classes.
 *
 * Per batch: update both stores incrementally, then re-emit the audit
 * rows of exactly the TOUCHED classes against the CURRENT global — the
 * threshold-crossing signal. NOTE the live-emission semantics: a class's
 * emitted EMD is correct as of its last touching batch; later batches
 * move the global distribution without re-emitting untouched classes
 * (re-emitting everything would be O(classes) per batch). The DRAINED
 * gate therefore recomputes ALL classes from final state through the
 * SHARED [[graft.operators.Governance.tClosenessFromCounts]] arithmetic
 * ([[report]]) — drained == batch v04 over everything streamed BY
 * CONSTRUCTION, while the per-batch rows remain the ingest-time alarm.
 *
 * Null semantics match the batch audit: null sensitive values carry no
 * distribution mass (dropped before anything counts); a NULL quasi-id
 * tuple is its own auditable class, so every state join is null-safe
 * (the e24 ADVICE lesson).
 *
 * 100 TB posture: per batch the work is O(batch + touched class-value
 * rows + m); only skinny (quasi…, value, n) and (value, n) rows move or
 * persist — never payloads.
 */
object StreamingTCloseness {

  private def nullSafeOn(l: String, r: String, cols: Seq[String]): Column =
    cols.map(c => col(s"$l.$c") <=> col(s"$r.$c")).reduce(_ && _)

  private def classLayout(quasiCols: Seq[String]): LsmLayout = LsmLayout(
    partitionCols = Seq("__qp"),
    derivedCols = Seq("__qp"),
    derive = df => df.withColumn("__qp",
      pmod(hash(quasiCols.map(col): _*), lit(32)).cast("int")))

  private val globalLayout: LsmLayout = LsmLayout(
    partitionCols = Seq("__vp"),
    derivedCols = Seq("__vp"),
    derive = df => df.withColumn("__vp",
      pmod(hash(col("__v")), lit(8)).cast("int")))

  private def ensureStores(spark: SparkSession, batchSchema: StructType,
      quasiCols: Seq[String], sensitiveCol: String, valsDir: String,
      globalDir: String): Unit = {
    if (!LsmParquetState.exists(spark, valsDir)) {
      val schema = StructType(quasiCols.map(c => batchSchema(c)) :+
        StructField("__v", batchSchema(sensitiveCol).dataType,
          nullable = false) :+
        StructField("n", LongType, nullable = false))
      LsmParquetState.seed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema), valsDir,
        classLayout(quasiCols))
    }
    if (!LsmParquetState.exists(spark, globalDir)) {
      val schema = StructType(Seq(
        StructField("__v", batchSchema(sensitiveCol).dataType,
          nullable = false),
        StructField("n", LongType, nullable = false)))
      LsmParquetState.seed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema), globalDir, globalLayout)
    }
  }

  /** Latest cumulative counter per key (base overridden by the newest
    * tail row — the e11/e24 resolution shape), null-safe on the keys.
    */
  private def currentState(s: SparkSession, dir: String, layout: LsmLayout,
      keyCols: Seq[String], pred: Column,
      excludeTailBatch: Option[Long]): DataFrame = {
    val base = LsmParquetState.scanBaseOnly(s, dir, layout, pred)
    val tail = LsmParquetState.scanTailTagged(s, dir, layout,
      excludeTailBatch)
    val latest = tail.groupBy(keyCols.map(col): _*)
      .agg(max_by(col("n"), col("__tail_batch")).as("n"))
    base.as("b")
      .join(latest.select(keyCols.map(col): _*).as("l"),
        nullSafeOn("b", "l", keyCols), "left_anti")
      .unionByName(latest)
  }

  /** The drained gate: ALL classes recomputed from final state through
    * the SHARED batch arithmetic — equals [[Governance.tClosenessAudit]]
    * over everything streamed. Output: (quasi…, n_rows, emd, t_close).
    */
  def report(spark: SparkSession, valsDir: String, globalDir: String,
      quasiCols: Seq[String], t: Double,
      ordered: Boolean = false): DataFrame = {
    val byClassVal = currentState(spark, valsDir, classLayout(quasiCols),
      quasiCols :+ "__v", lit(true), None)
      .select(quasiCols.map(col) :+ col("__v") :+ col("n").as("__c"): _*)
    val global = currentState(spark, globalDir, globalLayout,
      Seq("__v"), lit(true), None)
      .select(col("__v"), col("n").as("__g"))
    graft.operators.Governance.tClosenessFromCounts(byClassVal, global,
      quasiCols, t, ordered)
  }

  def start(spark: SparkSession, source: DataFrame,
      quasiCols: Seq[String], sensitiveCol: String, t: Double,
      ordered: Boolean, valsDir: String, globalDir: String,
      reportDir: String, checkpointDir: String): StreamingQuery = {
    ensureStores(spark, source.schema, quasiCols, sensitiveCol, valsDir,
      globalDir)
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(valsDir, globalDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, quasiCols, sensitiveCol, t,
          ordered, valsDir, globalDir, reportDir)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      quasiCols: Seq[String], sensitiveCol: String, t: Double,
      ordered: Boolean, valsDir: String, globalDir: String,
      reportDir: String): Unit = {
    val s = batch.sparkSession
    val layout = classLayout(quasiCols)
    def q(cols: Seq[String]): Seq[Column] = cols.map(col)
    // null sensitive values carry no distribution mass (the batch
    // contract) — dropped before anything counts, including n_rows
    val (rows, prefixes) = EagerBatch.withIntSet(batch
      .filter(col(sensitiveCol).isNotNull)
      .select(q(quasiCols) :+ col(sensitiveCol).as("__v"): _*),
      pmod(hash(q(quasiCols): _*), lit(32)).cast("int"))
    ensureStores(s, batch.schema, quasiCols, sensitiveCol, valsDir,
      globalDir)
    if (prefixes.isEmpty) {
      rows.limit(0).groupBy(q(quasiCols): _*)
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("emd", lit(0.0))
        .withColumn("t_close", lit(true))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(rows)
      return
    }
    val touched = rows.select(q(quasiCols): _*).distinct()
    val keyCols = quasiCols :+ "__v"
    // class-value counters: batch deltas + latest persisted
    val delta = rows.groupBy(q(keyCols): _*).agg(count(lit(1)).as("__d"))
    val priorVals = currentState(s, valsDir, layout, keyCols,
      col("__qp").isin(prefixes: _*), Some(batchId)).as("pv")
      .join(touched.as("t"), nullSafeOn("pv", "t", quasiCols), "left_semi")
      .localCheckpoint(eager = true)
    val nextVals = delta.as("d")
      .join(priorVals.as("p"), nullSafeOn("d", "p", keyCols), "left_outer")
      .select(keyCols.map(c => col(s"d.$c").as(c)) :+
        (col("__d") + coalesce(col("n"), lit(0L))).as("n"): _*)
      .localCheckpoint(eager = true)
    LsmParquetState.append(nextVals, valsDir, Some(batchId))
    // global per-value counters: only batch values re-append (the store
    // is latest-wins per value; untouched values' rows stay current)
    val gDelta = rows.groupBy(col("__v")).agg(count(lit(1)).as("__d"))
    val priorGlobal = currentState(s, globalDir, globalLayout, Seq("__v"),
      lit(true), Some(batchId)).localCheckpoint(eager = true)
    val nextGlobalTouched = gDelta.as("d")
      .join(priorGlobal.as("p"), col("d.__v") === col("p.__v"),
        "left_outer")
      .select(col("d.__v").as("__v"),
        (col("__d") + coalesce(col("n"), lit(0L))).as("n"))
      .localCheckpoint(eager = true)
    LsmParquetState.append(nextGlobalTouched, globalDir, Some(batchId))
    // live emission: the TOUCHED classes' full value rows (state merged
    // with this batch) against the CURRENT global — O(touched + m)
    val liveVals = nextVals.unionByName(
      priorVals.as("p").join(nextVals.as("nv"),
        nullSafeOn("p", "nv", keyCols), "left_anti"))
    val liveGlobal = nextGlobalTouched.unionByName(
      priorGlobal.as("p").join(nextGlobalTouched.as("ng"),
        col("p.__v") === col("ng.__v"), "left_anti"))
    graft.operators.Governance.tClosenessFromCounts(
        liveVals.select(q(quasiCols) :+ col("__v") :+
          col("n").as("__c"): _*),
        liveGlobal.select(col("__v"), col("n").as("__g")),
        quasiCols, t, ordered)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    Seq(nextGlobalTouched, priorGlobal, nextVals, priorVals, rows)
      .foreach(org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
  }

  /** Fold both stores' tails into their bases, latest-wins per key.
    * Call BETWEEN runs (guarded).
    */
  def compactState(spark: SparkSession, valsDir: String,
      globalDir: String, quasiCols: Seq[String]): Unit = {
    val keyCols = quasiCols :+ "__v"
    LsmParquetState.compact(spark, valsDir, classLayout(quasiCols),
      resolve = Some(df => df.groupBy(keyCols.map(col): _*)
        .agg(max_by(col("n"), col("__tail_batch")).as("n"))))
    LsmParquetState.compact(spark, globalDir, globalLayout,
      resolve = Some(df => df.groupBy(col("__v"))
        .agg(max_by(col("n"), col("__tail_batch")).as("n"))))
  }
}
