package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DecimalType

/**
 * Streaming RFM state — the ingest-time form of the g10 per-user
 * aggregate: every micro-batch folds its users' running totals
 * (recency = max event time, frequency = event count, monetary = exact
 * DECIMAL value sum) forward in a persisted per-user store, so the
 * drained report always equals the batch [[graft.operators.Events
 * .scoreRfm]] over everything streamed.
 *
 * The merge is ASSOCIATIVE AND COMMUTATIVE (max / sum / sum), so unlike
 * the funnel no time-ordered-batches contract is needed — batches may
 * arrive in any order and the drained totals are still exact; replay
 * exactness comes from reads excluding the batch's own tail plus
 * batch-keyed latest-wins appends (the entity-resolution map recipe).
 *
 * State: one [[LsmParquetState]] store of `(user, recency_ns,
 * frequency, monetary)` rows — USER-scale, base partitioned by
 * `__up = pmod(hash(user), 64)` so a batch reads only its touched
 * users' prefix partitions; per batch it appends ONLY the touched
 * users' new totals. Quartile SCORING happens at report time over the
 * drained totals — quantile boundaries are corpus-level state no
 * per-batch fold could maintain.
 */
object StreamingRfm {

  val userPrefixes: Int = 64

  private val dec = DecimalType(28, 6)

  private def layout(userCol: String) = LsmLayout(Seq("__up"), Seq("__up"),
    _.withColumn("__up",
      pmod(hash(col(userCol)), lit(userPrefixes)).cast("int")))

  /** Current per-user totals, latest-batch-wins (the funnel/ER read
    * shape: the small tail resolves per user, the base anti-joins the
    * override keys map-side — no base shuffle).
    */
  private def currentState(s: SparkSession, stateDir: String,
      userCol: String, basePred: org.apache.spark.sql.Column,
      excludeTailBatch: Option[Long]): DataFrame = {
    val lay = layout(userCol)
    val cols = Seq("recency_ns", "frequency", "monetary")
    val base = LsmParquetState.scanBaseOnly(s, stateDir, lay, basePred)
    val tail = LsmParquetState.scanTailTagged(s, stateDir, lay,
      excludeTailBatch)
    val latest = tail.groupBy(userCol)
      .agg(max_by(struct(cols.map(col): _*), col("__tail_batch")).as("__s"))
      .select(col(userCol) +: cols.map(c => col(s"__s.$c").as(c)): _*)
    base.join(latest.select(userCol), Seq(userCol), "left_anti")
      .unionByName(latest)
  }

  /** The drained RFM report — [[graft.operators.Events.scoreRfm]] over
    * the accumulated totals, row-identical to the batch g10 query.
    */
  def report(spark: SparkSession, stateDir: String,
      userCol: String): DataFrame = {
    val per = currentState(spark, stateDir, userCol, lit(true), None)
      .select(col(userCol), col("recency_ns"), col("frequency"),
        col("monetary").cast("double").as("monetary"))
    graft.operators.Events.scoreRfm(per, userCol)
  }

  /** Fold the state tail into a fresh base. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String,
      userCol: String): Unit = {
    val cols = Seq("recency_ns", "frequency", "monetary")
    LsmParquetState.compact(spark, stateDir, layout(userCol),
      resolve = Some(tagged => tagged.groupBy(userCol)
        .agg(max_by(struct(cols.map(col): _*), col("__tail_batch")).as("__s"))
        .select(col(userCol) +: cols.map(c => col(s"__s.$c").as(c)): _*)))
  }

  def start(spark: SparkSession, source: DataFrame, userCol: String,
      tsCol: String, valueCol: String, stateDir: String,
      checkpointDir: String): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, userCol, tsCol, valueCol, stateDir)
    }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      userCol: String, tsCol: String, valueCol: String,
      stateDir: String): Unit = {
    val s = batch.sparkSession
    val lay = layout(userCol)
    // touched users' state only: bounded observed set → PartitionFilter,
    // riding the batch aggregate's checkpoint (the merge below reads the
    // checkpoint instead of re-running the aggregate)
    val (agg, touched) = EagerBatch.withIntSet(
      batch.groupBy(col(userCol)).agg(
        max(col(tsCol).cast("long")).as("recency_ns"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast(dec)).cast(dec).as("monetary")),
      pmod(hash(col(userCol)), lit(userPrefixes)).cast("int"))
    if (!LsmParquetState.hasBase(s, stateDir))
      LsmParquetState.seed(agg.limit(0), stateDir, lay)
    val pred =
      if (touched.isEmpty) lit(false)
      else col("__up").isin(touched.toSeq: _*)
    val stored = currentState(s, stateDir, userCol, pred, Some(batchId))
      .select(col(userCol), col("recency_ns").as("__or"),
        col("frequency").as("__of"), col("monetary").as("__om"))
    val merged = agg.join(stored, Seq(userCol), "left")
      .select(col(userCol),
        greatest(col("recency_ns"), coalesce(col("__or"), col("recency_ns")))
          .as("recency_ns"),
        (col("frequency") + coalesce(col("__of"), lit(0L))).as("frequency"),
        (col("monetary") + coalesce(col("__om"), lit(0).cast(dec)))
          .cast(dec).as("monetary"))
    LsmParquetState.appendTail(merged, stateDir, Some(batchId))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(agg)
  }
}
