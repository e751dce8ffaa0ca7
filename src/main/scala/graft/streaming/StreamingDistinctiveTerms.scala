package graft.streaming

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming distinctive-terms drift monitor — the t50 Dunning G²
 * keyness as an ingest-time shift detector: per micro-batch, which
 * tokens make THIS batch read differently from everything ingested
 * BEFORE it (a new spam template flooding in, a crawl source changing
 * language, an encoding regression) — the 2×2 contingency is
 * batch-vs-history instead of t50's slice-vs-rest, through the SAME
 * quantized [[TextAnalysis.g2Expr]] arithmetic.
 *
 * State, two [[LsmParquetState]] stores (the e27 pairing):
 *  - `counts/`: ADDITIVE (token, __n) per-batch delta facts in
 *    `__tp = pmod(hash(token), 16)` prefix partitions — a read sums
 *    base + tail per token; replays overwrite their own `batch=` tail
 *    partition and reads exclude it, so a replay counts against
 *    exactly the pre-batch history (batch-keyed exactly-once).
 *  - `scalars/`: additive 1-row (Σ batch tokens) facts — the history
 *    grand total without opening the token store.
 *
 * Per batch the emission reads ONLY the batch vocabulary's (≤ 16)
 * touched prefixes — bounded by what the batch mentions, never the
 * corpus vocabulary. Batch tokens absent from history audit against
 * b = 0 (their first appearance IS the signal).
 *
 * Reports land in `reportDir/batch=<id>`: one row per batch token with
 * count ≥ `minCount` — (token, n_batch, n_hist, g2, overused).
 */
object StreamingDistinctiveTerms {

  val tokenPrefixes: Int = 16

  private[streaming] val layout = LsmLayout(
    partitionCols = Seq("__tp"),
    derivedCols = Seq("__tp"),
    derive = _.withColumn("__tp",
      pmod(hash(col("token")), lit(tokenPrefixes)).cast("int")))

  private[streaming] val scalarLayout = LsmLayout(Seq("__kp"), Seq("__kp"),
    _.withColumn("__kp", lit(0)))

  private def countsDir(stateDir: String) = s"$stateDir/counts"
  private def scalarsDir(stateDir: String) = s"$stateDir/scalars"

  /** Per-batch (token, __n) counts of a document frame under the shared
    * t50 tokenization.
    */
  private def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(Dedup.normalized(col(textCol)), " "))
        .as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("__n"))

  /** The accumulated report across batches. */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .select(col("batch").cast("long").as("batch"), col("token"),
        col("n_batch"), col("n_hist"), col("g2"), col("overused"))

  /** Fold both tails into fresh bases. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    LsmParquetState.compact(spark, countsDir(stateDir), layout,
      resolve = Some(_.groupBy("token")
        .agg(sum(col("__n")).as("__n"))))
    LsmParquetState.compact(spark, scalarsDir(stateDir), scalarLayout,
      resolve = Some(_.agg(coalesce(sum(col("__nt")), lit(0L)).as("__nt"))
        .filter(col("__nt") > 0)))
  }

  def start(source: DataFrame, textCol: String,
      stateDir: String, reportDir: String, checkpointDir: String,
      minCount: Long = 5L): StreamingQuery =
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(countsDir(stateDir), scalarsDir(stateDir))) {
      (batch, batchId) =>
        processBatch(batch, batchId, textCol, stateDir, reportDir,
          minCount)
    }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      textCol: String, stateDir: String, reportDir: String,
      minCount: Long = 5L): Unit = {
    val s = batch.sparkSession
    // materialized once: the batch total, the report join AND the state
    // append all consume it; the touched-prefix set rides the
    // checkpoint job as an observed aggregate
    val (bc, bcm) = EagerBatch.withMetrics(tokenCounts(batch, textCol),
      Seq(collect_set(pmod(hash(col("token")), lit(tokenPrefixes))
        .cast("int")).as("__set")))
    if (!LsmParquetState.hasBase(s, countsDir(stateDir)))
      LsmParquetState.seed(bc.limit(0), countsDir(stateDir), layout)
    if (!LsmParquetState.hasBase(s, scalarsDir(stateDir)))
      LsmParquetState.seed(
        bc.limit(0).agg(sum(col("__n")).as("__nt")).limit(0),
        scalarsDir(stateDir), scalarLayout)
    val touched = EagerBatch.intSet(bcm, "__set")
    // history: additive sum over base + prior tails, own batch excluded
    // (replay-exact), restricted to the batch vocabulary's prefixes
    val hist = LsmParquetState.scan(s, countsDir(stateDir), layout,
        col("__tp").isin(touched.toIndexedSeq: _*),
        excludeTailBatch = Some(batchId))
      .groupBy("token").agg(sum(col("__n")).as("__nh"))
    val nh = LsmParquetState.scan(s, scalarsDir(stateDir), scalarLayout,
        lit(true), excludeTailBatch = Some(batchId))
      .agg(coalesce(sum(col("__nt")), lit(0L)).as("__NH"))
    val nb = bc.agg(sum(col("__n")).as("__NB"))
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    bc.filter(col("__n") >= minCount)
      .join(hist, Seq("token"), "left")
      .select(col("token"), col("__n").as("n_batch"),
        coalesce(col("__nh"), lit(0L)).as("n_hist"))
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nh))
      .select(col("token"), col("n_batch"), col("n_hist"),
        TextAnalysis.g2Expr(col("n_batch"), col("n_hist"),
          col("__NB"), col("__NH")).as("g2"),
        (col("n_batch").cast(dec0) * col("__NH").cast(dec0) >
          col("n_hist").cast(dec0) * col("__NB").cast(dec0))
          .as("overused"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    LsmParquetState.appendTail(bc, countsDir(stateDir), Some(batchId))
    LsmParquetState.appendTail(
      bc.agg(coalesce(sum(col("__n")), lit(0L)).as("__nt")),
      scalarsDir(stateDir), Some(batchId))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(bc)
  }
}
