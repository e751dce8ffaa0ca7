package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming PR-AUC + calibration drift for a deployed quality
 * classifier — the live counterpart of the batch evals
 * [[graft.operators.CorpusStats.prAuc]] (t48) and
 * [[graft.operators.CorpusStats.calibrationBins]] (t42): as labeled
 * (score, label) pairs arrive, both reports stay current. The
 * deployment failure mode this watches is the filter's PRECISION
 * drifting as the crawl mix shifts — ROC stays flattering under
 * imbalance, PR-AUC does not, and the calibration table says whether
 * the scores still mean what the threshold assumes.
 *
 * State (the e18 histogram recipe verbatim, with two counters): one
 * [[LsmParquetState]] store of per-distinct-score rows
 * `(__s double, __c rows, __p positives)` — counts merge ADDITIVELY, so
 * like e18/e17 no time-ordering contract exists; replay exactness comes
 * from reads excluding the batch's own tail plus batch-keyed
 * latest-wins appends. Base partitions on `__sp = pmod(hash(__s), 64)`;
 * a batch's MERGE reads only its touched score prefixes.
 *
 * Every batch then emits BOTH reports over the cumulative counts into
 * batch-keyed report partitions (replay overwrites its own —
 * exactly-once): PR-AUC via the shared
 * [[graft.operators.CorpusStats.prAucFromScoreCounts]] and the
 * calibration table via [[graft.operators.CorpusStats.calibrationFromScoreCounts]]
 * — ONE definition for batch and stream, so the drained report equals
 * the batch evals over everything streamed BY CONSTRUCTION (the
 * e-series contract; e25 gates both against the t48/t42 oracles).
 *
 * 100 TB posture: the per-batch merge is O(batch distinct scores +
 * touched prefix rows); the per-batch REPORT scans the full count state
 * once — domain-bounded by the bounded-cardinality metric contract
 * (scores are rounded emissions, their distinct count is the state
 * bound), never the row count. Labeled eval pairs are a trickle next to
 * the corpus; the state is their histogram, not their rows.
 */
object StreamingPrDrift {

  val scorePrefixes: Int = 64

  private val layout = LsmLayout(Seq("__sp"), Seq("__sp"),
    _.withColumn("__sp", pmod(hash(col("__s")), lit(scorePrefixes)).cast("int")))

  /** Accumulated per-score counts, latest-batch-wins. */
  private def currentState(s: SparkSession, stateDir: String,
      basePred: org.apache.spark.sql.Column,
      excludeTailBatch: Option[Long]): DataFrame = {
    val base = LsmParquetState.scanBaseOnly(s, stateDir, layout, basePred)
    val tail = LsmParquetState.scanTailTagged(s, stateDir, layout,
      excludeTailBatch)
    val latest = tail.groupBy("__s")
      .agg(max_by(struct(col("__c"), col("__p")), col("__tail_batch"))
        .as("__v"))
      .select(col("__s"), col("__v.__c").as("__c"), col("__v.__p").as("__p"))
    base.join(latest.select("__s"), Seq("__s"), "left_anti")
      .unionByName(latest)
  }

  /** Drained PR-AUC report: the latest batch's emission (each batch
    * reports over the cumulative history, so the last one IS the batch
    * t48 over everything streamed).
    */
  def prReport(spark: SparkSession, reportDir: String): DataFrame = {
    val all = spark.read.parquet(s"$reportDir/pr")
    all.join(all.agg(max(col("batch").cast("long")).as("batch")), "batch")
      .select("pr_auc", "baseline", "n_pos", "n_neg")
  }

  /** Drained calibration report: the latest batch's table. */
  def calibrationReport(spark: SparkSession, reportDir: String): DataFrame = {
    val all = spark.read.parquet(s"$reportDir/cal")
    all.join(all.agg(max(col("batch").cast("long")).as("batch")), "batch")
      .select("bin", "n", "sum_pred", "n_pos", "frac_pos")
  }

  def start(spark: SparkSession, source: DataFrame, scoreCol: String,
      labelCol: String, stateDir: String, reportDir: String,
      checkpointDir: String, bins: Int = 10): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, scoreCol, labelCol, stateDir,
          reportDir, bins)
    }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      scoreCol: String, labelCol: String, stateDir: String,
      reportDir: String, bins: Int = 10): Unit = {
    val s = batch.sparkSession
    // one observed checkpoint: the touched-prefix set rides the batch
    // aggregate's materialization, and the merge below reads the
    // checkpoint instead of re-running the aggregate
    val (bh, touched) = EagerBatch.withIntSet(batch
      .select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("long").as("__y"))
      .groupBy("__s")
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p")),
      pmod(hash(col("__s")), lit(scorePrefixes)).cast("int"))
    if (!LsmParquetState.hasBase(s, stateDir))
      LsmParquetState.seed(bh.limit(0), stateDir, layout)
    if (touched.nonEmpty) {
      val stored = currentState(s, stateDir,
          col("__sp").isin(touched.toSeq: _*), Some(batchId))
        .select(col("__s"), col("__c").as("__oc"), col("__p").as("__op"))
      val merged = bh.join(stored, Seq("__s"), "left")
        .select(col("__s"),
          (col("__c") + coalesce(col("__oc"), lit(0L))).as("__c"),
          (col("__p") + coalesce(col("__op"), lit(0L))).as("__p"))
      LsmParquetState.appendTail(merged, stateDir, Some(batchId))
    }
    // emit BOTH reports over the cumulative counts — domain-bounded scan,
    // shared code with the batch evals, batch-keyed exactly-once
    val cum = currentState(s, stateDir, lit(true), None)
      .localCheckpoint(eager = true)
    graft.operators.CorpusStats.prAucFromScoreCounts(cum)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/pr/batch=$batchId")
    graft.operators.CorpusStats.calibrationFromScoreCounts(cum, bins)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/cal/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(cum)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(bh)
  }

  /** Fold the count tail into a fresh base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    LsmParquetState.compact(spark, stateDir, layout,
      resolve = Some(tagged => tagged.groupBy("__s")
        .agg(max_by(struct(col("__c"), col("__p")), col("__tail_batch"))
          .as("__v"))
        .select(col("__s"), col("__v.__c").as("__c"),
          col("__v.__p").as("__p"))))
}
