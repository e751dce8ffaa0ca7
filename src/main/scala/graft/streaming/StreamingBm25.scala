package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming BM25 retrieval index — the live counterpart of the batch
 * [[graft.operators.TextAnalysis.bm25TopK]] (b02): documents arrive in
 * micro-batches, the inverted index grows incrementally, and every batch
 * re-emits the top-k answer for a FIXED query set over everything
 * indexed so far. The deployment shape: a standing retrieval panel
 * (canary queries, contamination probes, "is my page indexed yet") kept
 * current as the crawl streams in.
 *
 * State, two [[LsmParquetState]] stores:
 *  - `postings/`: append-only facts `(__tok, __id, __tf, __dl)` — one
 *    row per (document, token) with the document length denormalized IN
 *    (the 100 TB posture: scoring needs dl for every candidate posting,
 *    and carrying it in the row is what keeps the per-batch read to the
 *    query terms' partitions instead of a second doc-keyed store probe).
 *    Base partitions on `__tp = pmod(hash(__tok), 64)`; the emission
 *    reads ONLY the query tokens' prefixes (a static PartitionFilter
 *    over the query vocabulary — the corpus-scale index never fully
 *    opens). Replays overwrite their own `batch=` tail partition and
 *    reads resolve (__tok, __id) latest-wins, so facts never double.
 *  - `scalars/`: the 1-row cumulative `(__n docs, __sdl Σdl)` frame,
 *    latest-batch-wins (the e25 recipe: merges read the state EXCLUDING
 *    the batch's own tail, so a replay recomputes from the pre-batch
 *    truth).
 *
 * Contract (the e-series equality convention): each document id arrives
 * EXACTLY ONCE across the stream (exact-dedup upstream, the e15/e05
 * convention — a re-sent id would double its postings); under it the
 * drained report equals `bm25TopK` over everything streamed BY
 * CONSTRUCTION, because the emission calls the SAME
 * [[TextAnalysis.bm25FromPostings]] scoring tail on the same posting
 * rows, df values and corpus stats (e27 gates this against the b02
 * oracle).
 *
 * 100 TB posture: per batch the index write is O(batch postings); the
 * emission reads O(query-term postings + tail) — bounded by the panel's
 * vocabulary, not the corpus; the scalar store is 1 row. `compactState`
 * folds tails between runs.
 */
object StreamingBm25 {

  val tokenPrefixes: Int = 64

  private val postLayout = LsmLayout(Seq("__tp"), Seq("__tp"),
    _.withColumn("__tp", pmod(hash(col("__tok")), lit(tokenPrefixes)).cast("int")))

  private val scalarLayout = LsmLayout(Seq("__kp"), Seq("__kp"),
    _.withColumn("__kp", lit(0)))

  private def postingsDir(stateDir: String) = s"$stateDir/postings"
  private def scalarsDir(stateDir: String) = s"$stateDir/scalars"

  /** Accumulated postings for the given base predicate, (__tok, __id)
    * latest-wins across base and tail (a fact is immutable — the
    * resolution only de-duplicates replayed appends).
    */
  private def currentPostings(s: SparkSession, stateDir: String,
      basePred: org.apache.spark.sql.Column,
      tailPred: org.apache.spark.sql.Column,
      excludeTailBatch: Option[Long]): DataFrame = {
    val dir = postingsDir(stateDir)
    val base = LsmParquetState.scanBaseOnly(s, dir, postLayout, basePred)
      .withColumn("__tail_batch", lit(-1L))
    val tail = LsmParquetState.scanTailTagged(s, dir, postLayout,
      excludeTailBatch).filter(tailPred)
    base.unionByName(tail)
      .groupBy("__tok", "__id")
      .agg(max_by(struct(col("__tf"), col("__dl")), col("__tail_batch"))
        .as("__v"))
      .select(col("__tok"), col("__id"),
        col("__v.__tf").as("__tf"), col("__v.__dl").as("__dl"))
  }

  /** The cumulative (n_docs, Σdl) scalar row — (0, 0) when empty. */
  private def currentScalars(s: SparkSession, stateDir: String,
      excludeTailBatch: Option[Long]): DataFrame = {
    val dir = scalarsDir(stateDir)
    val base = LsmParquetState.scanBaseOnly(s, dir, scalarLayout, lit(true))
      .withColumn("__tail_batch", lit(-1L))
    val tail = LsmParquetState.scanTailTagged(s, dir, scalarLayout,
      excludeTailBatch)
    base.unionByName(tail)
      .agg(max_by(struct(col("__n"), col("__sdl")), col("__tail_batch"))
        .as("__v"))
      .select(coalesce(col("__v.__n"), lit(0L)).as("__n"),
        coalesce(col("__v.__sdl"), lit(0L)).as("__sdl"))
  }

  /** Drained report: the latest batch's emission (each batch answers
    * over the cumulative index, so the last one IS the batch bm25TopK
    * over everything streamed).
    */
  def report(spark: SparkSession, reportDir: String): DataFrame = {
    val all = spark.read.parquet(reportDir)
    all.join(all.agg(max(col("batch").cast("long")).as("batch")), "batch")
      .drop("batch")
  }

  def start(source: DataFrame, idCol: String,
      textCol: String, queries: DataFrame, queryIdCol: String,
      queryTextCol: String, stateDir: String, reportDir: String,
      checkpointDir: String, k: Int = 5,
      maxDfFrac: Double = 0.1): StreamingQuery = {
    // the panel is FIXED for the stream's lifetime: tokenize it (and
    // derive its touched hash prefixes, inside the checkpoint job)
    // ONCE here, not per batch
    val (qtoks, touchedSet) = EagerBatch.withIntSet(
      TextAnalysis.queryTokens(queries, queryIdCol, queryTextCol),
      pmod(hash(col("__tok")), lit(tokenPrefixes)).cast("int"))
    val touched = touchedSet.toArray
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(postingsDir(stateDir), scalarsDir(stateDir))) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, textCol, queries, queryIdCol,
          queryTextCol, stateDir, reportDir, k, maxDfFrac,
          panel = Some((qtoks, touched)))
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, queries: DataFrame,
      queryIdCol: String, queryTextCol: String, stateDir: String,
      reportDir: String, k: Int = 5, maxDfFrac: Double = 0.1,
      panel: Option[(DataFrame, Array[Int])] = None): Unit = {
    val s = batch.sparkSession
    // materialized once per batch: the tail write AND the scalar
    // increment both consume it — left lazy, the batch re-tokenizes
    val posts = TextAnalysis.bm25Postings(batch, idCol, textCol)
      .select(col("__tok"), col(idCol).cast("long").as("__id"),
        col("__tf"), col("__dl"))
      .localCheckpoint(eager = true)
    if (!LsmParquetState.hasBase(s, postingsDir(stateDir)))
      LsmParquetState.seed(posts.limit(0), postingsDir(stateDir), postLayout)
    if (!LsmParquetState.hasBase(s, scalarsDir(stateDir)))
      LsmParquetState.seed(
        posts.limit(0).agg(count(lit(1)).as("__n"), lit(0L).as("__sdl"))
          .limit(0),
        scalarsDir(stateDir), scalarLayout)
    LsmParquetState.appendTail(posts, postingsDir(stateDir), Some(batchId))
    // cumulative corpus scalars: pre-batch truth (own tail excluded —
    // replay-exact) + this batch's increment, latest-batch-wins
    val inc = posts.select(col("__id"), col("__dl")).distinct()
      .agg(count(lit(1)).as("__bn"),
        coalesce(sum(col("__dl")), lit(0L)).as("__bsdl"))
    val merged = inc
      .crossJoin(currentScalars(s, stateDir, Some(batchId)))
      .select((col("__bn") + col("__n")).as("__n"),
        (col("__bsdl") + col("__sdl")).as("__sdl"))
    LsmParquetState.appendTail(merged, scalarsDir(stateDir), Some(batchId))
    // emission: answer the panel over the cumulative index — base read
    // restricted to the query tokens' hash prefixes
    val (qtoks, touched) = panel.getOrElse {
      val (qt, ts) = EagerBatch.withIntSet(
        TextAnalysis.queryTokens(queries, queryIdCol, queryTextCol),
        pmod(hash(col("__tok")), lit(tokenPrefixes)).cast("int"))
      (qt, ts.toArray)
    }
    val tailPred =
      pmod(hash(col("__tok")), lit(tokenPrefixes)).cast("int")
        .isin(touched.toSeq: _*)
    // materialized once: the df aggregate and the score join both
    // consume it — left lazy, the state read + latest-wins dedup runs
    // twice per batch
    val postings = currentPostings(s, stateDir,
        col("__tp").isin(touched.toSeq: _*), tailPred, None)
      .withColumnRenamed("__id", idCol)
      .localCheckpoint(eager = true)
    val stats = currentScalars(s, stateDir, None)
      .select(col("__n"),
        (col("__sdl").cast("double") / col("__n").cast("double"))
          .as("__avgdl"))
    // repartition(1), NOT coalesce(1): coalesce propagates the 1-task
    // constraint through to the last shuffle and serializes the final
    // aggregation stage; repartition shuffles only the tiny k·|panel|
    // answer rows into the single output file
    TextAnalysis.bm25FromPostings(postings, qtoks, stats, idCol,
        queryIdCol, k, maxDfFrac = maxDfFrac)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(postings)
    // a caller-provided panel outlives the batch — only per-batch frames drop
    if (panel.isEmpty)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(qtoks)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(posts)
  }

  /** Fold both tails into fresh bases. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    LsmParquetState.compact(spark, postingsDir(stateDir), postLayout,
      resolve = Some(tagged => tagged.groupBy("__tok", "__id")
        .agg(max_by(struct(col("__tf"), col("__dl")), col("__tail_batch"))
          .as("__v"))
        .select(col("__tok"), col("__id"),
          col("__v.__tf").as("__tf"), col("__v.__dl").as("__dl"))))
    LsmParquetState.compact(spark, scalarsDir(stateDir), scalarLayout,
      resolve = Some(tagged => tagged
        .agg(max_by(struct(col("__n"), col("__sdl")), col("__tail_batch"))
          .as("__v"))
        .select(col("__v.__n").as("__n"), col("__v.__sdl").as("__sdl"))
        .filter(col("__n").isNotNull)))
  }
}
