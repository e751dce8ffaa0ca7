package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming Kaplan–Meier / Nelson–Aalen survival — the live counterpart
 * of the batch [[graft.operators.Events.survivalCurve]] (g17): as events
 * arrive, each key's lifetime bounds (first and last event time) stay
 * current, and the drained curve equals the batch estimator over the
 * full event history (the e-series contract; e26 gates against g17's
 * oracle verbatim).
 *
 * State (the e17 RFM recipe): ONE row per key `(user, t0, t1)` in a
 * `__up = pmod(user, 32)`-partitioned [[LsmParquetState]] with
 * latest-batch-wins tail overrides. The merge is `least`/`greatest` —
 * ASSOCIATIVE AND COMMUTATIVE — so like RFM/KS no time-ordering
 * contract exists; replay exactness comes from reads excluding the
 * batch's own tail plus batch-keyed appends. Censoring is decided at
 * REPORT time against the newest observation in state (as more history
 * streams in, a key that looked dead can come back — exactly the
 * semantics the batch estimator has over the grown corpus).
 *
 * 100 TB posture: per batch the work is O(batch keys + touched prefix
 * rows) over skinny (key, two longs) rows; the report pays the same
 * duration-bounded aggregates + parallel prefix sums as the batch
 * operator, through the SHARED
 * [[graft.operators.Events.survivalFromBounds]] code — one definition,
 * zero drift.
 */
object StreamingSurvival {

  private val layout = LsmLayout(Seq("__up"), Seq("__up"),
    _.withColumn("__up", pmod(col("user"), lit(32)).cast("int")))

  /** Latest lifetime bounds per key (base overridden by newest tail). */
  private def currentState(s: SparkSession, stateDir: String,
      basePred: org.apache.spark.sql.Column,
      excludeTailBatch: Option[Long]): DataFrame = {
    val base = LsmParquetState.scanBaseOnly(s, stateDir, layout, basePred)
    val tail = LsmParquetState.scanTailTagged(s, stateDir, layout,
      excludeTailBatch)
    val latest = tail.groupBy("user")
      .agg(max_by(struct(col("t0"), col("t1")), col("__tail_batch"))
        .as("__v"))
      .select(col("user"), col("__v.t0").as("t0"), col("__v.t1").as("t1"))
    base.join(latest.select("user"), Seq("user"), "left_anti")
      .unionByName(latest)
  }

  /** The drained survival curve — the batch g17 over everything
    * streamed, via the shared bounds entry point.
    */
  def report(spark: SparkSession, stateDir: String,
      censorHorizon: Long): DataFrame =
    graft.operators.Events.survivalFromBounds(
      currentState(spark, stateDir, lit(true), None)
        .select(col("user").as("__k"), col("t0").as("__t0"),
          col("t1").as("__t1")),
      censorHorizon)

  def start(source: DataFrame, keyCol: String,
      tsCol: String, stateDir: String, checkpointDir: String): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, keyCol, tsCol, stateDir)
    }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      keyCol: String, tsCol: String, stateDir: String): Unit = {
    val s = batch.sparkSession
    // one observed checkpoint: the touched-prefix set rides the batch
    // aggregate's materialization, and the merge below reads the
    // checkpoint instead of re-running the aggregate
    val (bh, touched) = EagerBatch.withIntSet(batch
      .select(col(keyCol).cast("long").as("user"),
        col(tsCol).cast("long").as("__t"))
      .groupBy("user")
      .agg(min(col("__t")).as("t0"), max(col("__t")).as("t1")),
      pmod(col("user"), lit(32)).cast("int"))
    if (!LsmParquetState.hasBase(s, stateDir))
      LsmParquetState.seed(bh.limit(0), stateDir, layout)
    if (touched.isEmpty) {
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(bh)
      return
    }
    val stored = currentState(s, stateDir,
        col("__up").isin(touched.toSeq: _*), Some(batchId))
      .select(col("user"), col("t0").as("__o0"), col("t1").as("__o1"))
    val merged = bh.join(stored, Seq("user"), "left")
      .select(col("user"),
        least(col("t0"), coalesce(col("__o0"), col("t0"))).as("t0"),
        greatest(col("t1"), coalesce(col("__o1"), col("t1"))).as("t1"))
    LsmParquetState.appendTail(merged, stateDir, Some(batchId))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(bh)
  }

  /** Fold the bounds tail into a fresh base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(tagged => tagged.groupBy("user")
        .agg(max_by(struct(col("t0"), col("t1")), col("__tail_batch"))
          .as("__v"))
        .select(col("user"), col("__v.t0").as("t0"),
          col("__v.t1").as("t1"))))
}
