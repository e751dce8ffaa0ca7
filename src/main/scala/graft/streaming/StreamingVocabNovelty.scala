package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming vocabulary-novelty monitor — the ingest-time Heaps curve
 * (t33): per micro-batch, how many distinct tokens the batch contains
 * and how many the corpus has NEVER seen. A flattening new-token rate
 * is the live signal that additional crawl has stopped buying
 * vocabulary (and a spike flags a domain shift or an encoding bug).
 *
 * State: the seen-token set as 64-bit kernel token hashes in a
 * [[LsmParquetState]] store partitioned by `__tp = pmod(tok, 16)` —
 * the d09/e05 recipe: each batch reads the base through a PARTITION
 * filter on its own (≤ 16) touched prefixes plus the small tail, so
 * per-batch scan I/O is O(touched partitions + tail), not O(corpus
 * vocabulary); appends are batch-keyed (replay overwrites its own —
 * exactly-once). Hash identity stands in for token identity (the d06
 * 64-bit-collision sanction; a collision can only UNDER-count novelty
 * by one).
 *
 * Reports land one row per batch in `reportDir/batch=<id>`:
 * (n_tokens — distinct in the batch, n_new — never seen before it).
 */
object StreamingVocabNovelty {

  private[streaming] val layout = LsmLayout(
    partitionCols = Seq("__tp"),
    derivedCols = Seq("__tp"),
    derive = _.withColumn("__tp", pmod(col("tok"), lit(16)).cast("int")))

  /** Distinct token hashes of a document frame (word 1-grams of the
    * normalized text, hashed by the shingling kernel).
    */
  private def tokenHashes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(graft.functions.GraftFunctions.shingle_hashes(
        Dedup.normalized(col(textCol)), 1, word = true)).as("tok"))
      .distinct()

  /** Seed the seen-token store from an already-ingested corpus, deciding
    * the layout by corpus size (the shared
    * [[LsmParquetState.autoPartitioned]] policy).
    */
  def seedTokens(corpus: DataFrame, textCol: String,
      tokensDir: String): Unit =
    seedTokens(corpus, textCol, tokensDir,
      LsmParquetState.autoPartitioned(corpus))

  /** Explicit-layout seed (the StreamingCuration convention): the
    * partitioned base buys per-batch prefix pruning AND batch-keyed
    * exactly-once tail appends; the flat legacy posture is cheaper at
    * fixture scale but replays at-least-once (its flat tail cannot
    * exclude a batch's own rows).
    */
  def seedTokens(corpus: DataFrame, textCol: String, tokensDir: String,
      partitionedBase: Boolean): Unit = {
    val toks = tokenHashes(corpus, textCol)
    if (partitionedBase) LsmParquetState.seed(toks, tokensDir, layout)
    else toks.write.mode("overwrite").parquet(tokensDir)
  }

  /** The accumulated per-batch novelty report: (batch, n_tokens, n_new). */
  def report(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .select(col("batch").cast("long").as("batch"),
        col("n_tokens"), col("n_new"))

  /** Fold the token tail into the partitioned base. Call BETWEEN runs
    * (guarded).
    */
  def compactState(spark: SparkSession, tokensDir: String): Unit =
    LsmParquetState.compact(spark, tokensDir, layout)

  def start(spark: SparkSession, source: DataFrame, textCol: String,
      tokensDir: String, reportDir: String,
      checkpointDir: String): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(tokensDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, textCol, tokensDir, reportDir)
    }
  }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path. The novelty
    * count reads the store EXCLUDING this batch's own tail partition, so
    * a foreachBatch replay counts against exactly the pre-batch state.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      textCol: String, tokensDir: String, reportDir: String): Unit = {
    val s = batch.sparkSession
    // materialized once: feeds the novelty anti-join and both counts
    // without re-tokenizing; the (bounded, <= 16) prefix set rides the
    // checkpoint job as an observed aggregate
    val (toks, prefixes) = EagerBatch.withIntSet(tokenHashes(batch, textCol),
      pmod(col("tok"), lit(16)).cast("int"))
    val seen =
      if (LsmParquetState.exists(s, tokensDir))
        LsmParquetState.scan(s, tokensDir, layout,
          col("__tp").isin(prefixes.toIndexedSeq: _*),
          excludeTailBatch = Some(batchId))
      else s.range(0).select(col("id").as("tok"))
    val newToks = toks.join(seen.select("tok"), Seq("tok"), "left_anti")
      .localCheckpoint(eager = true)
    val nTokens = toks.count()
    val nNew = newToks.count()
    LsmParquetState.append(newToks, tokensDir, Some(batchId))
    s.range(1).select(lit(nTokens).as("n_tokens"), lit(nNew).as("n_new"))
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(newToks)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(toks)
  }
}
