package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming Kolmogorov–Smirnov drift — the shape-sensitive companion to
 * the PSI monitor ([[StreamingDrift]]): as documents arrive, the
 * streamed side's EXACT value histogram accumulates in a persisted
 * store, and the drained report is the exact two-sample KS statistic
 * against a static reference — row-identical to the batch
 * [[graft.operators.CorpusStats.ksStatistic]] over everything streamed.
 *
 * The histogram merge is ADDITIVE (count sums per distinct value), so
 * like [[StreamingRfm]] no time-ordering contract exists; replay
 * exactness comes from reads excluding the batch's own tail plus
 * batch-keyed latest-wins appends.
 *
 * State: one [[LsmParquetState]] store of `(__v double, n)` rows —
 * DOMAIN-scale (the bounded-cardinality metric contract), base
 * partitioned by `__vp = pmod(hash(__v), 64)` so a batch reads only its
 * touched value-prefix partitions. The reference is bounded and static
 * by contract; its histogram is computed at report time (one
 * domain-bounded aggregate), not stored.
 */
object StreamingKsDrift {

  val valuePrefixes: Int = 64

  private val layout = LsmLayout(Seq("__vp"), Seq("__vp"),
    _.withColumn("__vp", pmod(hash(col("__v")), lit(valuePrefixes)).cast("int")))

  /** Accumulated streamed-side histogram, latest-batch-wins. */
  private def currentState(s: SparkSession, stateDir: String,
      basePred: org.apache.spark.sql.Column,
      excludeTailBatch: Option[Long]): DataFrame = {
    val base = LsmParquetState.scanBaseOnly(s, stateDir, layout, basePred)
    val tail = LsmParquetState.scanTailTagged(s, stateDir, layout,
      excludeTailBatch)
    val latest = tail.groupBy("__v")
      .agg(max_by(col("n"), col("__tail_batch")).as("n"))
    base.join(latest.select("__v"), Seq("__v"), "left_anti")
      .unionByName(latest)
  }

  /** The drained KS report `(ks, at_value)` against the static
    * `reference` — the batch [[graft.operators.CorpusStats.ksStatistic]]
    * with A = reference, B = everything streamed.
    */
  def report(spark: SparkSession, stateDir: String, reference: DataFrame,
      valueCol: String): DataFrame = {
    require(!reference.isStreaming, "the reference must be a bounded batch frame")
    val ha = reference.groupBy(col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__ca"))
    val hb = currentState(spark, stateDir, lit(true), None)
      .select(col("__v"), col("n").as("__cb"))
    val nb = hb.agg(sum(col("__cb"))).head()
    require(!nb.isNullAt(0), "nothing streamed yet — no histogram state")
    graft.operators.CorpusStats.ksFromHistograms(ha, hb,
      reference.count(), nb.getLong(0))
  }

  /** Fold the histogram tail into a fresh base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(tagged => tagged.groupBy("__v")
        .agg(max_by(col("n"), col("__tail_batch")).as("n"))))

  def start(source: DataFrame, valueCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, valueCol, stateDir)
    }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      valueCol: String, stateDir: String): Unit = {
    val s = batch.sparkSession
    // one observed checkpoint: the touched-prefix set rides the batch
    // aggregate's materialization, and the merge below reads the
    // checkpoint instead of re-running the aggregate
    val (bh, touched) = EagerBatch.withIntSet(
      batch.groupBy(col(valueCol).cast("double").as("__v"))
        .agg(count(lit(1)).as("n")),
      pmod(hash(col("__v")), lit(valuePrefixes)).cast("int"))
    if (!LsmParquetState.hasBase(s, stateDir))
      LsmParquetState.seed(bh.limit(0), stateDir, layout)
    val pred =
      if (touched.isEmpty) lit(false)
      else col("__vp").isin(touched.toSeq: _*)
    val stored = currentState(s, stateDir, pred, Some(batchId))
      .select(col("__v"), col("n").as("__on"))
    val merged = bh.join(stored, Seq("__v"), "left")
      .select(col("__v"), (col("n") + coalesce(col("__on"), lit(0L))).as("n"))
    LsmParquetState.appendTail(merged, stateDir, Some(batchId))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(bh)
  }
}
