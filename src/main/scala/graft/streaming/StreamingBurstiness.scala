package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming inter-event burstiness — the live counterpart of the batch
 * [[graft.operators.Events.burstiness]] (g15): as events arrive, keep
 * each key's gap moments current and re-emit its CV / Goh–Barabási B.
 * The bot-vs-organic signature as an ingest-time monitor: a key whose B
 * collapses toward −1 mid-stream just became a metronome (a bot), one
 * drifting toward +1 is going bursty (attack traffic). The drained
 * report equals the batch operator over the full event history (the
 * e-series contract).
 *
 * State: ONE row per key — `(user, n_gaps, s, sq, last_t)`: the exact
 * gap moments (Σg as long, Σg² in DECIMAL(38,0) — overflow fails
 * loudly, never wraps) plus the last event time that seeds the next
 * batch's BOUNDARY gap. Stored in an [[LsmParquetState]] partitioned by
 * `__up = pmod(user, 32)` with latest-batch-wins tail overrides (the
 * e11/e21 recipe), batch-keyed exactly-once on replay.
 *
 * CHECKED monotone-ingest contract: within a key, a batch's earliest
 * event must not precede the persisted `last_t` (micro-batch sources
 * deliver roughly time-ordered data; silently folding a negative gap
 * would corrupt the moments forever). A violation throws with the
 * offending key count rather than degrading.
 *
 * 100 TB posture: per batch the work is O(batch + touched key rows) —
 * prefix-PartitionFilter base read, left-semi key restriction, ONE
 * per-key lag window over the BATCH only (never over history: the
 * boundary gap needs just `last_t`, which is why it is state), one
 * moment-merge aggregate. Constant state per key, forever.
 */
object StreamingBurstiness {

  private[streaming] val layout = LsmLayout(
    partitionCols = Seq("__up"),
    derivedCols = Seq("__up"),
    derive = _.withColumn("__up", pmod(col("user"), lit(32)).cast("int")))

  private def ensureStore(spark: SparkSession, stateDir: String): Unit =
    if (!LsmParquetState.exists(spark, stateDir)) {
      val empty = spark.range(0).select(
        col("id").as("user"), col("id").as("n_gaps"), col("id").as("s"),
        col("id").cast("decimal(38,0)").as("sq"), col("id").as("last_t"))
      LsmParquetState.seed(empty, stateDir, layout)
    }

  private def currentState(s: SparkSession, stateDir: String,
      prefixes: Seq[Int], excludeTailBatch: Option[Long]): DataFrame = {
    val pred =
      if (prefixes.isEmpty) lit(true) else col("__up").isin(prefixes: _*)
    val base = LsmParquetState.scanBaseOnly(s, stateDir, layout, pred)
    val tail = LsmParquetState.scanTailTagged(s, stateDir, layout,
      excludeTailBatch)
    val latest = tail.groupBy("user")
      .agg(max_by(struct(col("n_gaps"), col("s"), col("sq"), col("last_t")),
        col("__tail_batch")).as("__v"))
      .select(col("user"), col("__v.n_gaps").as("n_gaps"),
        col("__v.s").as("s"), col("__v.sq").as("sq"),
        col("__v.last_t").as("last_t"))
    base.join(latest.select("user"), Seq("user"), "left_anti")
      .unionByName(latest)
  }

  /** The drained report: (user, n_gaps, mean_gap, cv, burstiness),
    * latest emitting batch wins per key — the g15 emission schema.
    */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .groupBy(col("user"))
      .agg(max_by(struct(col("n_gaps"), col("mean_gap"), col("cv"),
          col("burstiness")), col("batch").cast("long")).as("__v"))
      .select(col("user"), col("__v.n_gaps").as("n_gaps"),
        col("__v.mean_gap").as("mean_gap"), col("__v.cv").as("cv"),
        col("__v.burstiness").as("burstiness"))

  def start(spark: SparkSession, source: DataFrame, keyCol: String,
      tsCol: String, tieCol: String, stateDir: String, reportDir: String,
      checkpointDir: String): StreamingQuery = {
    ensureStore(spark, stateDir)
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, keyCol, tsCol, tieCol, stateDir,
          reportDir)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      keyCol: String, tsCol: String, tieCol: String, stateDir: String,
      reportDir: String): Unit = {
    val s = batch.sparkSession
    ensureStore(s, stateDir)
    val (ev, prefixes) = EagerBatch.withIntSet(
      batch.select(col(keyCol).cast("long").as("user"),
        col(tsCol).cast("long").as("t"), col(tieCol).cast("long").as("i")),
      pmod(col("user"), lit(32)).cast("int"))
    if (prefixes.isEmpty) {
      s.range(0).select(col("id").as("user"), col("id").as("n_gaps"),
          col("id").as("mean_gap"), col("id").cast("double").as("cv"),
          col("id").cast("double").as("burstiness"))
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ev)
      return
    }
    val prior = currentState(s, stateDir, prefixes, Some(batchId))
      .join(ev.select("user").distinct(), Seq("user"), "left_semi")
      .localCheckpoint(eager = true)
    // in-batch gaps from ONE per-key lag window; the key's first batch
    // row bridges to the persisted last_t instead
    val w = Window.partitionBy(col("user")).orderBy(col("t"), col("i"))
    val gapped = ev
      .join(prior.select(col("user"), col("last_t")), Seq("user"),
        "left_outer")
      .withColumn("__prev",
        coalesce(lag(col("t"), 1).over(w), col("last_t")))
      .withColumn("__g", col("t") - col("__prev"))
    val batchMoments = gapped.groupBy("user").agg(
      sum(when(col("__g").isNotNull, 1L).otherwise(0L)).as("__n_new"),
      sum(col("__g")).as("__s_new"),
      sum(col("__g").cast("decimal(38,0)") * col("__g").cast("decimal(38,0)"))
        .as("__sq_new"),
      max(col("t")).as("__max_t"),
      sum(when(col("__g") < 0, 1L).otherwise(0L)).as("__neg"))
    // CHECKED contract: no batch row may precede its key's state — the
    // violation total rides the moments checkpoint as an observed sum
    // (formerly its own aggregate job per batch)
    val (batchMomentsS, mBad) = EagerBatch.withMetrics(batchMoments,
      Seq(sum(col("__neg")).as("__bad")))
    val bad = mBad("__bad") match {
      case null => 0L
      case n => n.asInstanceOf[Long]
    }
    if (bad > 0)
      throw new IllegalStateException(
        s"monotone-ingest contract violated: $bad event(s) precede " +
          "their key's persisted last_t — burstiness moments would corrupt")
    val next = batchMomentsS
      .join(prior, Seq("user"), "left_outer")
      .select(col("user"),
        (col("__n_new") + coalesce(col("n_gaps"), lit(0L))).as("n_gaps"),
        (coalesce(col("__s_new"), lit(0L)) + coalesce(col("s"), lit(0L)))
          .as("s"),
        (coalesce(col("__sq_new"), lit(0L).cast("decimal(38,0)")) +
          coalesce(col("sq"), lit(0L).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("sq"),
        col("__max_t").as("last_t"))
      .localCheckpoint(eager = true)
    LsmParquetState.append(next, stateDir, Some(batchId))
    // emissions: the g15 formulas over the merged exact moments
    val dD = (col("n_gaps").cast("decimal(38,0)") * col("sq") -
      col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
      .cast("double")
    val sd = col("s").cast("double")
    next.filter(col("n_gaps") > 0)
      .select(col("user"), col("n_gaps"),
        expr("s div n_gaps").as("mean_gap"),
        when(col("s") === 0, lit(0.0))
          .otherwise(round(sqrt(dD) / sd, 6) + lit(0.0)).as("cv"),
        when(col("s") === 0, lit(0.0))
          .otherwise(round((sqrt(dD) - sd) / (sqrt(dD) + sd), 6) + lit(0.0))
          .as("burstiness"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(next)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(batchMomentsS)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(prior)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ev)
  }

  /** Fold tail overrides into the base latest-wins. Call BETWEEN runs
    * (guarded).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(df => df.groupBy("user")
        .agg(max_by(struct(col("n_gaps"), col("s"), col("sq"),
          col("last_t")), col("__tail_batch")).as("__v"))
        .select(col("user"), col("__v.n_gaps").as("n_gaps"),
          col("__v.s").as("s"), col("__v.sq").as("sq"),
          col("__v.last_t").as("last_t"))))
}
