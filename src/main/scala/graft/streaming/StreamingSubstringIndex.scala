package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming substring-search index — the ingest-time form of
 * [[graft.operators.TextAnalysis.substringSearch]]: as documents
 * arrive, their character-`q`-gram posting lists accumulate in
 * persisted state, so grep-style `contains` queries over the WHOLE
 * streamed corpus answer from the index instead of a full text scan.
 * The Google-Code-Search maintenance story (Cox 2012, see PAPERS.md):
 * the index is append-only per document, queries intersect posting
 * lists and verify candidates exactly — lossless at every point in the
 * stream.
 *
 * State — two [[LsmParquetState]] stores:
 *   - `indexDir`: (__g, id) postings, base partitioned by
 *     `__gp = pmod(__g, 64)` — a pattern's probe reads ONLY its own
 *     grams' prefix partitions (static pruning; a q-gram pattern probe
 *     touches a handful of the 64);
 *   - `docsDir`:  (id, text), base partitioned by
 *     `__idp = pmod(hash(id), 64)` — verification reads ONLY the
 *     candidate ids' prefix partitions (the d09 docs-store recipe).
 * Appends are batch-keyed tails (replay overwrites its own partitions:
 * exactly-once state). Document ids must be unique across the stream
 * (the standard ingest contract); no per-batch state READ is needed at
 * ingest — the index is append-only.
 */
object StreamingSubstringIndex {

  val prefixes: Int = 64

  private val idxLayout = LsmLayout(Seq("__gp"), Seq("__gp"),
    _.withColumn("__gp", pmod(col("__g"), lit(prefixes.toLong)).cast("int")))
  private def docsLayout(idCol: String) = LsmLayout(Seq("__idp"), Seq("__idp"),
    _.withColumn("__idp", pmod(hash(col(idCol)), lit(prefixes)).cast("int")))

  private def postings(docs: DataFrame, idCol: String, textCol: String,
      q: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.GraftFunctions.shingle_hashes(
        col(textCol), q)).as("__g"))
      .select(col("__g"), col(idCol))

  /** Seed both stores from an initial corpus (partitioned bases). */
  def seedIndex(corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, docsDir: String, q: Int = 3): Unit = {
    LsmParquetState.seed(postings(corpus, idCol, textCol, q), indexDir,
      idxLayout)
    LsmParquetState.seed(corpus.select(col(idCol), col(textCol)), docsDir,
      docsLayout(idCol))
  }

  /** Fold both stores' tails into fresh partitioned bases. Call BETWEEN
    * runs.
    */
  def compactState(spark: SparkSession, indexDir: String, docsDir: String,
      idCol: String): Unit = {
    LsmParquetState.compact(spark, indexDir, idxLayout)
    LsmParquetState.compact(spark, docsDir, docsLayout(idCol))
  }

  def start(spark: SparkSession, source: DataFrame,
      idCol: String, textCol: String,
      indexDir: String, docsDir: String, checkpointDir: String,
      q: Int = 3): StreamingQuery = {
    LsmParquetState.startOwning(source, checkpointDir, Seq(indexDir, docsDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, idCol, textCol, indexDir, docsDir, q)
    }
  }

  /** One micro-batch: append the batch's postings and texts, batch-keyed
    * (replay-idempotent). Append-only — no state read at ingest.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      indexDir: String, docsDir: String, q: Int = 3): Unit = {
    val s = batch.sparkSession
    val docs = batch.select(col(idCol), col(textCol))
    if (!LsmParquetState.hasBase(s, indexDir))
      LsmParquetState.seed(postings(docs, idCol, textCol, q).limit(0),
        indexDir, idxLayout)
    if (!LsmParquetState.hasBase(s, docsDir))
      LsmParquetState.seed(docs.limit(0), docsDir, docsLayout(idCol))
    LsmParquetState.appendTail(postings(docs, idCol, textCol, q),
      indexDir, Some(batchId))
    LsmParquetState.appendTail(docs, docsDir, Some(batchId))
  }

  /** `contains` search over everything streamed: posting intersection
    * proposes (index base pruned to the patterns' gram prefixes), exact
    * verify against the docs store pruned to the candidates' id
    * prefixes. Patterns shorter than `q` fall back to a scan of the
    * docs store (documented, as in the batch operator). Output:
    * (pattern, id) — exactly the full-scan truth.
    */
  def search(spark: SparkSession, indexDir: String, docsDir: String,
      idCol: String, patterns: DataFrame, patternCol: String,
      q: Int = 3): DataFrame = {
    import graft.functions.GraftFunctions
    val textCol = LsmParquetState
      .scanBaseOnly(spark, docsDir, docsLayout(idCol), lit(false))
      .columns.filterNot(_ == idCol).head
    val pats = patterns.select(col(patternCol).as("__pat"))
      .filter(length(col("__pat")) > 0).distinct()
    val longPats = pats.filter(length(col("__pat")) >= q)
    val pgrams = longPats.select(col("__pat"),
      explode(GraftFunctions.shingle_hashes(col("__pat"), q)).as("__g"))
    // bounded: distinct gram prefixes of the (small) pattern set
    val touched = pgrams
      .select(pmod(col("__g"), lit(prefixes.toLong)).cast("int").as("__gp"))
      .distinct().collect().map(_.getInt(0))
    val gPred =
      if (touched.isEmpty) lit(false)
      else col("__gp").isin(touched.toSeq: _*)
    val posting = LsmParquetState.scan(spark, indexDir, idxLayout, gPred)
    val pcounts = pgrams.groupBy("__pat").agg(count(lit(1)).as("__m"))
    val cand = posting.join(broadcast(pgrams), "__g")
      .groupBy(col("__pat"), col(idCol))
      .agg(count(lit(1)).as("__hit"))
      .join(broadcast(pcounts), "__pat")
      .filter(col("__hit") === col("__m"))
      .select(col("__pat"), col(idCol))
    // candidate-pruned docs read (the d09 recipe: ≤ prefixes ints)
    val idps = cand
      .select(pmod(hash(col(idCol)), lit(prefixes)).cast("int").as("__idp"))
      .distinct().collect().map(_.getInt(0))
    val dPred =
      if (idps.isEmpty) lit(false)
      else col("__idp").isin(idps.toSeq: _*)
    val docsPruned = LsmParquetState.scan(spark, docsDir, docsLayout(idCol),
      dPred)
    val verified = cand.join(docsPruned, Seq(idCol))
      .filter(instr(col(textCol), col("__pat")) > 0)
      .select(col("__pat").as("pattern"), col(idCol))
    val shortPats = pats.filter(length(col("__pat")) < q)
    val shortHits = LsmParquetState
      .scan(spark, docsDir, docsLayout(idCol), lit(true))
      .crossJoin(broadcast(shortPats))
      .filter(instr(col(textCol), col("__pat")) > 0)
      .select(col("__pat").as("pattern"), col(idCol))
    verified.unionByName(shortHits)
  }
}
