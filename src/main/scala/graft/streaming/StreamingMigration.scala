package graft.streaming

import graft.model.{IfNotExistFilter, InsertIfNotExists, MigrationConfig, TableMigrationDef}
import graft.pipeline.MigrationPlanner
import graft.sources.{LocalFs, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/**
 * Streaming mode: the same migration plan under Structured Streaming.
 *
 * The reference "streams" by pulling pages of a static table in a loop
 * (reference: MigrateTableTask.java:304-345) with an optional sleep between
 * pages as a rate limit (:325-330, O17) and a write thread pool (O18). Here:
 *  - micro-batches replace pages (`maxFilesPerTrigger` bounds batch size,
 *    the trigger interval is the rate limiter — O17);
 *  - the narrow plan (filters, derived columns, TTL, projection) is BYTE
 *    IDENTICAL to batch mode — [[MigrationPlanner.narrowPlan]] is shared;
 *  - existence filtering (O6/O14) runs in keyed streaming state seeded
 *    from ONE target read ([[StreamingExistenceFilter]]) — the reference's
 *    per-page live probe without a per-batch target scan;
 *  - the sink-side write-mode transform (keep-last / counter pre-agg)
 *    runs per micro-batch inside `foreachBatch`, exactly the reference's
 *    per-page semantics;
 *  - task parallelism inside a batch replaces the write pool (O18).
 *
 * Sink batches are replay-safe: a path target takes each micro-batch
 * through [[Tables.commitBatch]] tagged `<queryId>-b<batchId>`, so a batch
 * re-run after a crash replaces its first attempt's files — in every write
 * mode, absent or populated target (the reference's counter path is NOT
 * retry-safe — SURVEY §7.4). A table-addressed connector target gets a
 * plain append, idempotent only when the connector upserts by PK.
 */
object StreamingMigration {

  // sessions that have a listener (weakly held so sessions can GC):
  // repeated start() calls must not stack duplicate listeners
  private def sessionSet() = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  private val progressAttached = sessionSet()
  private val releaseAttached = sessionSet()

  // started runs by run id, until they terminate; their state-store
  // providers are then closed instead of staying loaded, with their state
  // maps, until Spark's next maintenance pass
  private val running = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, StreamingQuery]()
  private object ReleaseState extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(running.remove(e.runId)).foreach(Bridge.releaseStateStores)
  }

  /** Start the streaming migration for one table. Caller owns the returned
    * query lifecycle ([[StreamHarness.drain]] / `stop`).
    */
  def start(
      spark: SparkSession,
      cfg: MigrationConfig,
      t0: TableMigrationDef,
      checkpointDir: String,
      trigger: Trigger = null,
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    LocalFs.install(spark)
    val t = MigrationPlanner.resolvePk(spark, cfg, t0)
    if (releaseAttached.add(spark)) spark.streams.addListener(ReleaseState)
    // O20: per-micro-batch status lines (micro-batch = the reference's page)
    if (cfg.statusIntervalMillis.isDefined && progressAttached.add(spark))
      spark.streams.addListener(new graft.pipeline.StreamingProgressListener())
    // explicit args win; otherwise the reference's config fields drive the
    // micro-batch size (pageSize) and rate limit (pauseMillisBetweenPages)
    val resolvedTrigger = Option(trigger).getOrElse(
      Trigger.ProcessingTime(t.pauseMillisBetweenPages.getOrElse(0L)))
    val resolvedMaxFiles =
      if (maxFilesPerTrigger > 0) maxFilesPerTrigger else t.pageSize.getOrElse(1)
    // schema comes from a static peek — streaming file sources need it declared
    val schema = Tables.load(spark, cfg.source, t.tableName).schema
    val path = Tables.tablePath(cfg.source, t.tableName)
    // streaming file sources want a directory basePath; fixture tables may
    // be single parquet FILES — anchor basePath at the parent directory
    val isFile = !path.contains("://") &&
      java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path))
    val stream = spark.readStream
      .format(cfg.source.format)
      .options(cfg.source.options)
      .schema(schema)
      .option("maxFilesPerTrigger", resolvedMaxFiles.toString)
      .load(if (isFile) path + "*" else path) // glob => basePath = parent dir

    // patchNullsFromTarget is a whole-table merge: running its full_outer
    // join per micro-batch would re-emit EVERY target row in EVERY batch
    // (duplicating the target once per batch). It has no per-batch
    // semantics — reject it here; use the batch planner for merge-patch.
    if (t.patchNullsFromTarget) throw MigrationPlanner.PlanError(
      s"patchNullsFromTarget on '${t.tableName}' is not supported in " +
        "streaming mode: the target merge would re-emit all target rows " +
        "each micro-batch. Run this table through the batch planner.")

    // Existence filtering must see rows written by EARLIER micro-batches
    // (the reference probes the live target per page,
    // IfNotExistFilter.java:71-89). The target is read ONCE — its PKs seed
    // the keyed state of [[StreamingExistenceFilter]]; from then on the
    // state store answers "seen?" locally instead of a per-batch full
    // target re-scan (VERDICT r4 #2). The pre-stream snapshot is also the
    // schema anchor for the reconciled projection (schemas don't change
    // mid-stream).
    val schemaTarget = Tables.loadIfExists(spark, cfg.target, t.resolvedTargetName)
    if (schemaTarget.exists(_.columns.contains(Tables.oldBatchColumn)))
      throw MigrationPlanner.PlanError(s"target '${Tables.tablePath(cfg.target,
        t.resolvedTargetName)}' holds ${Tables.oldBatchColumn}=<id> dirs of an " +
        "earlier streaming sink; rewrite it as plain part files or use a new target")
    // a restart may replay batch 0, which re-applies the seed: leave out
    // the rows this query committed itself, or the replay admits none
    val priorRun = Bridge.checkpointQueryId(spark, checkpointDir)
      .filter(_ => Tables.isPathFormat(cfg.target))
    val needsExistenceFilter =
      t.filters.contains(IfNotExistFilter) || t.writeMode == InsertIfNotExists
    val tNarrow = t.copy(filters = t.filters.filterNot(_ == IfNotExistFilter))
    val (narrowNoExist, _) = MigrationPlanner.narrowPlan(stream, schemaTarget, tNarrow)
    val narrow = if (needsExistenceFilter) {
      if (t.pkColumns.isEmpty) throw MigrationPlanner.PlanError(
        s"IfNotExist semantics on '${t.tableName}' need pkColumns")
      val missing = schemaTarget.toSeq.flatMap(tgt =>
        t.pkColumns.filterNot(tgt.columns.contains))
      if (missing.nonEmpty) throw MigrationPlanner.PlanError(
        s"target '${t.resolvedTargetName}' lacks PK column(s) " +
          s"${missing.mkString(", ")} required for existence filtering")
      // the STREAM side must carry the PKs too (the source may lack them,
      // or the projection may have dropped them) — fail as a plan error
      // with the table name, not a bare schema lookup exception
      val missingSrc = t.pkColumns.filterNot(narrowNoExist.columns.contains)
      if (missingSrc.nonEmpty) throw MigrationPlanner.PlanError(
        s"stream for '${t.tableName}' lacks PK column(s) " +
          s"${missingSrc.mkString(", ")} required for existence filtering " +
          "(missing from the source or dropped by the projection)")
      val seed = schemaTarget.map(tgt => priorRun.fold(tgt)(id =>
        tgt.filter(!col("_metadata.file_name").startsWith(id))))
      StreamingExistenceFilter(narrowNoExist,
        seed.map(_.select(t.pkColumns.map(col): _*)), t.pkColumns)
    } else narrowNoExist
    // the per-batch transform must not anti-join a second time
    val tBatch =
      if (needsExistenceFilter && !t.filters.contains(IfNotExistFilter))
        t.copy(filters = t.filters :+ IfNotExistFilter)
      else t

    val query = narrow.writeStream
      .trigger(resolvedTrigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // existence filtering already happened upstream in keyed state —
        // the batch arrives pre-filtered, no target re-read here
        val out = MigrationPlanner.writeModeTransform(batch, schemaTarget, tBatch)
        if (t.simulateOnly) out.write.format("noop").mode("overwrite").save()
        else if (Tables.isPathFormat(cfg.target)) {
          val queryId = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
          Tables.commitBatch(out, cfg.target, t.resolvedTargetName, s"$queryId-b$batchId")
        } else Tables.write(out, cfg.target, t.resolvedTargetName, mode = "append",
          ttlColumn = t.ttl.map(_.ttlColumn))
      }
      .start()
    // a run that ends before this line (no batch can finish that fast)
    // would leave its providers to the maintenance pass
    running.put(query.runId, query)
    query
  }
}
