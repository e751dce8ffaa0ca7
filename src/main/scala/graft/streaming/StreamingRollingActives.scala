package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming rolling-window distinct actives — the live counterpart of
 * the batch [[graft.operators.Events.rollingActiveUsers]] (g12): as
 * events arrive, maintain the distinct (day, user) pair set and keep the
 * per-day "distinct users active in the trailing `windowDays` days"
 * report current. The drained report equals the batch operator over the
 * full event history (the e-series contract): a report day's LAST
 * emission happens at the last batch that added any pair inside its
 * window, at which point the count runs over the complete pair state for
 * that window — later batches change nothing there.
 *
 * State: distinct (day, user) pairs in an [[LsmParquetState]] store
 * partitioned by `__dp = pmod(day, 32)` — the d09/e13 recipe. Each batch
 * reads the base through a PartitionFilter on its own touched day
 * prefixes (a micro-batch spans a bounded day range — ingest is roughly
 * time-ordered), appends only its NEW pairs batch-keyed
 * (`tail/batch=<id>`, overwritten on replay — exactly-once), and
 * re-emits the report rows for exactly the days its new pairs affect
 * (`[min new day, max new day + windowDays − 1]`, intersected with
 * event-bearing days). Reports land per batch in
 * `reportDir/batch=<id>`; [[report]] resolves latest-batch-wins per day.
 *
 * 100 TB posture: per batch the work is O(batch + touched day
 * partitions), never O(history); the day-replication trick (`explode`
 * of a `windowDays`-long offset range over already-deduplicated pairs)
 * keeps the count equi-join-only, exactly as the batch g12 plan.
 */
object StreamingRollingActives {

  private[streaming] val layout = LsmLayout(
    partitionCols = Seq("__dp"),
    derivedCols = Seq("__dp"),
    derive = _.withColumn("__dp", pmod(col("day"), lit(32)).cast("int")))

  private val dayNs = 86400L * 1000000000L

  private def prefixOf(day: Long): Int = java.lang.Math.floorMod(day, 32L).toInt

  /** Ensure the store exists with the partitioned layout BEFORE the
    * first append (an append into a non-existent store would fall back
    * to the flat legacy posture and lose exactly-once replays).
    */
  private def ensureStore(spark: SparkSession, pairsDir: String): Unit =
    if (!LsmParquetState.exists(spark, pairsDir)) {
      import spark.implicits._
      LsmParquetState.seed(
        Seq.empty[(Long, Long)].toDF("day", "user"), pairsDir, layout)
    }

  /** The drained report: (day, n_active), latest emitting batch wins. */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .groupBy(col("day"))
      .agg(max_by(col("n_active"), col("batch").cast("long")).as("n_active"))

  def start(spark: SparkSession, source: DataFrame, userCol: String,
      tsNsCol: String, pairsDir: String, reportDir: String,
      checkpointDir: String, windowDays: Int = 7): StreamingQuery = {
    require(windowDays >= 1, "window must span at least one day")
    ensureStore(spark, pairsDir)
    LsmParquetState.startOwning(source, checkpointDir, Seq(pairsDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, userCol, tsNsCol, pairsDir,
          reportDir, windowDays)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      userCol: String, tsNsCol: String, pairsDir: String,
      reportDir: String, windowDays: Int): Unit = {
    val s = batch.sparkSession
    ensureStore(s, pairsDir)
    // bounded observed set: the batch's distinct days (time-ordered
    // ingest), computed inside the checkpoint job
    val (du, dum) = EagerBatch.withMetrics(
      batch.select(
          expr(s"$tsNsCol div ${dayNs}L").as("day"),
          col(userCol).cast("long").as("user"))
        .distinct(),
      Seq(collect_set(col("day")).as("__days")))
    val batchDays = EagerBatch.longSet(dum, "__days").toArray
    def emptyReport(): Unit =
      s.range(0).select(col("id").as("day"), col("id").as("n_active"))
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    if (batchDays.isEmpty) {
      emptyReport()
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(du)
      return
    }
    val touched = batchDays.map(prefixOf).distinct.toIndexedSeq
    val seen = LsmParquetState.scan(s, pairsDir, layout,
      col("__dp").isin(touched: _*), excludeTailBatch = Some(batchId))
    val (newPairs, npm) = EagerBatch.withMetrics(
      du.join(seen, Seq("day", "user"), "left_anti"),
      Seq(collect_set(col("day")).as("__days")))
    val newDays = EagerBatch.longSet(npm, "__days").toArray
    LsmParquetState.append(newPairs, pairsDir, Some(batchId))
    if (newDays.isEmpty) {
      emptyReport()
    } else {
      val minAffected = newDays.min
      val maxAffected = newDays.max + windowDays - 1
      val lowDay = minAffected - windowDays + 1
      val rangePrefixes = (lowDay to maxAffected).map(prefixOf)
        .distinct.toIndexedSeq
      // post-append scan: this batch's own tail partition is state now
      val win = LsmParquetState.scan(s, pairsDir, layout,
          col("__dp").isin(rangePrefixes: _*))
        .filter(col("day").between(lowDay, maxAffected))
        .localCheckpoint(eager = true)
      val days = win.select("day").distinct()
        .filter(col("day").between(minAffected, maxAffected))
      val contrib = win.select(
          explode(sequence(lit(0L), lit((windowDays - 1).toLong))).as("__o"),
          col("day"), col("user"))
        .select((col("day") + col("__o")).as("day"), col("user"))
        .filter(col("day").between(minAffected, maxAffected))
      contrib.join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct(col("user")).as("n_active"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(win)
    }
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(newPairs)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(du)
  }

  /** Fold the pair tail into the partitioned base. Call BETWEEN runs
    * (guarded).
    */
  def compactState(spark: SparkSession, pairsDir: String): Unit =
    LsmParquetState.compact(spark, pairsDir, layout)
}
