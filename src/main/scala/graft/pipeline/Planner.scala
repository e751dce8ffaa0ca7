package graft.pipeline

import graft.expr.MvelTranslator
import graft.model._
import graft.schema.Reconciler
import graft.sources.{LocalFs, Tables}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * The planner: compiles a [[graft.model.TableMigrationDef]] into a Spark
 * DataFrame plan — the counterpart of the reference's task-init "analyzer"
 * (reference: MigrateTableTask.java:160-216) + run loop (:280-367), with the
 * row-at-a-time loop replaced by one declarative plan that Catalyst
 * optimizes (pushdown, pruning, codegen — SURVEY §4).
 *
 * Plan shape (SURVEY §2, in plan order):
 *   scan (O1) → whereClause pushdown filter (O3) → read limit (O7)
 *   → residual MVEL filter chain (O4/O5) → existence anti-join (O6)
 *   → calculated columns (O9) → TTL re-base (O10/O11)
 *   → reconciled projection (O2/O12/O21) → write limit (O8)
 *   → write-mode transform: keep-last upsert (O13) / insert-if-not-exists
 *     anti-join (O14) / counter pre-aggregation (O15).
 *
 * Scale posture: the only shuffles a plan can contain are the anti-join
 * (shuffled hash / broadcast chosen by AQE at runtime — never assumed
 * broadcastable, SURVEY §7.4) and the keep-last / counter hash
 * aggregations (keyed on PK with map-side partial combine — the minimum
 * possible shuffle for their semantics). Everything else is narrow and
 * whole-stage-codegen'd.
 */
object MigrationPlanner {

  final case class PlanError(msg: String) extends RuntimeException(msg)

  /** Result of planning: the write-ready DataFrame plus reconciliation
    * diagnostics (dropped columns / warnings — reference behavior
    * DefaultMigratorPlugin.java:256-269) and the target as loaded for the
    * plan (None when it does not exist yet), so execution never probes it
    * again.
    */
  final case class Planned(
      data: DataFrame,
      reconciliation: Reconciler.Reconciliation,
      failedRows: Option[DataFrame],
      target: Option[DataFrame])

  /** Fill in pkColumns from connector metadata when the definition leaves
    * them empty — the reference discovers PKs from cluster metadata instead
    * of requiring them in config (MigrateTableTask.java:415-428). A DSv2
    * source advertises partition keys as identity transforms; path sources
    * discover nothing and the definition stands as written.
    */
  private[graft] def resolvePk(
      spark: SparkSession, cfg: MigrationConfig, t: TableMigrationDef): TableMigrationDef =
    if (t.pkColumns.nonEmpty) t
    else {
      val discovered = Tables.discoverPkColumns(spark, cfg.source, t.tableName)
      if (discovered.nonEmpty) t.copy(pkColumns = discovered) else t
    }

  /** Compile the full migration plan for one table. */
  def plan(spark: SparkSession, cfg: MigrationConfig, t0: TableMigrationDef): Planned = {
    LocalFs.install(spark)
    val t = resolvePk(spark, cfg, t0)
    val source = Tables.load(spark, cfg.source, t.tableName)
    val target = Tables.loadIfExists(spark, cfg.target, t.resolvedTargetName)
    val (narrow, rec, failed) = narrowPlanWithErrors(source, target, t)
    var df = narrow

    // O8 write limit (post-filter, pre-sink — distinct from O7's position).
    t.maxWriteRowCount.foreach(n => df = df.limit(intLimit(n, "maxWriteRowCount")))

    df = writeModeTransform(df, target, t)
    // silent-dedup-skip guard: upsert with a PK but no ordering writes
    // duplicate-PK rows as-is — legitimate for unique-PK sources, but worth
    // a warning since last-write-wins then has no defined "last"
    val rec2 = if (t.writeMode == Upsert && t.pkColumns.nonEmpty &&
        t.orderingColumns.isEmpty)
      rec.copy(warnings = rec.warnings :+
        (s"upsert on '${t.tableName}' has pkColumns but no orderingColumns: " +
          "duplicate-PK rows are not deduplicated"))
    else rec
    Planned(df, rec2, failed, target)
  }

  /** The narrow (shuffle-free, streaming-safe) prefix of the plan:
    * scan-side filters, limits, derived columns, TTL re-base and the
    * reconciled write projection. Shared verbatim by batch [[plan]] and
    * [[graft.streaming.StreamingMigration]] — Structured Streaming's
    * unified semantics make the same transforms valid on a stream.
    */
  def narrowPlan(
      source: DataFrame,
      target: Option[DataFrame],
      t: TableMigrationDef): (DataFrame, Reconciler.Reconciliation) = {
    val (df, rec, _) = narrowPlanWithErrors(source, target, t)
    (df, rec)
  }

  /** [[narrowPlan]] plus the O19 dead-letter frame when
    * `continueOnRowError=true`: rows whose values cannot be represented in
    * the target column types are split out instead of failing the write
    * (reference abort-vs-continue dispatch: MigrateTableTask.java:496-517).
    * With false/unset, a bad value fails the job at write time (ANSI cast) —
    * the reference's abort path.
    */
  def narrowPlanWithErrors(
      source: DataFrame,
      target: Option[DataFrame],
      t: TableMigrationDef): (DataFrame, Reconciler.Reconciliation, Option[DataFrame]) = {
    var df = source
    // MVEL translations may reference graft SQL functions (java_hash_code…)
    graft.functions.GraftFunctions.register(df.sparkSession)
    Reconciler.validateTypes(df.schema, t.tableName)

    // O3 pushdown predicate: declared as a plain filter; Catalyst's
    // PushDownPredicates + the DSv2 contract push it into the scan
    // (the reference concatenates it into CQL by hand,
    // DefaultMigratorPlugin.java:207-210).
    t.whereClause.foreach(w => df = df.filter(expr(w)))

    // O7 read limit (batch only: streams have no global limit).
    if (!df.isStreaming)
      t.maxReadRowCount.foreach(n => df = df.limit(intLimit(n, "maxReadRowCount")))

    // O4/O5 residual filter chain: conjunction of translated MVEL
    // predicates. Order is irrelevant under Catalyst; the reference runs
    // them sequentially per batch (MigrateTableTask.java:446-451).
    t.filters.foreach {
      case FieldValueFilter(e) => df = df.filter(MvelTranslator.toColumnFor(e, df.schema))
      case IfNotExistFilter =>
        // O6: drop rows whose PK already exists in the target — the
        // left-anti join the reference only sketched
        // (IfNotExistFilter.java:49-96).
        df = antiJoinOnPk(df, target, t)
      case PluginFilter(cls, opts) =>
        // O22/plugins: reflective stage (the reference's Class.forName
        // extension point) — a DataFrame→DataFrame hook in plan order
        df = graft.plugin.GraftStage.load(cls).apply(df, opts)
    }

    // O9 calculated columns (MVEL → Catalyst, whole-stage codegen).
    t.calculatedColumns.foreach { c =>
      df = df.withColumn(c.targetColumn,
        MvelTranslator.toColumnFor(c.expression, df.schema))
    }

    // O10/O11 TTL re-base: target_ttl = targetTableTTL - (sourceTableTTL - row_ttl)
    // (DefaultMigratorPlugin.java:360-365).
    t.ttl.foreach { s =>
      df = df.withColumn(
        s.ttlColumn,
        lit(s.targetTableTtl) - (lit(s.sourceTableTtl) - col(s.ttlColumn)))
    }

    // O2/O21 reconciled write projection against the target schema (live
    // target if present, else source ∪ calculated).
    val calcTypes: Map[String, org.apache.spark.sql.types.DataType] =
      t.calculatedColumns.map(c => c.targetColumn -> df.schema(c.targetColumn).dataType).toMap
    val targetSchema: StructType =
      target.map(_.schema).getOrElse(df.schema)
    val rec = Reconciler.reconcile(
      dropCalc(df.schema, calcTypes.keySet), targetSchema, t.pkColumns, calcTypes)

    // O12 cast each written column to the target type (plan-time check done
    // by Reconciler rule 4; the cast itself is the 14-way dispatch of
    // DefaultMigratorPlugin.java:406-464 done declaratively).
    val tolerant = t.continueOnRowError.getOrElse(false)
    val castedCols = rec.writeColumns.filter { name =>
      df.schema(name).dataType != targetSchema(name).dataType
    }
    // O19: a row is "bad" when any value exists but its target-type
    // conversion does not (try_cast null while source non-null)
    val badRow: Option[Column] =
      if (!tolerant || castedCols.isEmpty) None
      else Some(castedCols.map { name =>
        col(name).isNotNull &&
          expr(s"try_cast($name AS ${targetSchema(name).dataType.sql})").isNull
      }.reduce(_ || _))
    val failed = badRow.map(b => df.filter(b))
    badRow.foreach(b => df = df.filter(!b))
    val projected = df.select(rec.writeColumns.map { name =>
      val tgtType = targetSchema(name).dataType
      if (df.schema(name).dataType == tgtType) col(name)
      else col(name).cast(tgtType).as(name)
    }: _*)
    (projected, rec, failed)
  }

  /** Sink-side transform for the write mode — keep-last upsert (O13),
    * insert-if-not-exists anti-join (O14), counter pre-aggregation (O15).
    * In streaming mode this runs per micro-batch inside `foreachBatch`
    * (micro-batch = the reference's page, MigrateTableTask.java:304-345).
    */
  def writeModeTransform(
      df0: DataFrame, target: Option[DataFrame], t: TableMigrationDef): DataFrame = {
    val df = df0
    t.writeMode match {
      case Upsert =>
        val deduped = dfDeduped(df, t)
        // CQL sparse-row fidelity: merge-patch against the live target
        // (null source value = "unset" -> keep target's value; target rows
        // absent from the source survive the upsert)
        (t.patchNullsFromTarget, target) match {
          case (true, Some(tgt)) if t.pkColumns.nonEmpty =>
            patchMerge(deduped, tgt, t.pkColumns)
          case _ => deduped
        }
      case InsertIfNotExists =>
        // O14: anti-join + append (documented semantics delta vs per-row
        // LWT, SURVEY §7.4). If the IfNotExistFilter already ran, this is
        // a no-op on an already-disjoint set.
        if (t.filters.contains(IfNotExistFilter)) df
        else antiJoinOnPk(df, target, t)
      case CounterIncrement =>
        // O15: additive merge pre-aggregation — sum per PK; SQL sum skips
        // nulls exactly like the reference's null-skip rule
        // (DefaultMigratorPlugin.java:426-432).
        if (t.pkColumns.isEmpty) throw PlanError(
          s"counter table '${t.tableName}' needs pkColumns for pre-aggregation")
        val counters = if (t.counterColumns.nonEmpty) t.counterColumns
          else df.columns.toSeq.filterNot(t.pkColumns.contains)
        df.groupBy(t.pkColumns.map(col): _*)
          .agg(counters.head -> "sum", counters.tail.map(_ -> "sum"): _*)
          .select(t.pkColumns.map(col) ++
            counters.map(c => col(s"sum($c)").cast(df.schema(c).dataType).as(c)): _*)
    }
  }

  /** O13 keep-last: CQL upsert is last-write-wins per PK; bulk semantics
    * need an explicit ordering. keep-last = argmax per PK of the ordering
    * tuple, expressed as max_by over a hash aggregate: partial (map side) +
    * final aggregation instead of a full sort-window — the shuffle carries
    * one pre-combined row per (partition × PK), which is the difference
    * between sorting 100 TB and aggregating it.
    */
  /** CQL sparse-row merge-patch: full-outer join on the PK, source value
    * wins unless null ("unset" keeps the target's value; target rows
    * absent from the source survive). Public because the driver gate
    * (`q23_patch_nulls`) exercises this exact implementation, not a
    * re-statement of it.
    */
  private[graft] def patchMerge(
      src0: DataFrame, tgt0: DataFrame, pk: Seq[String]): DataFrame = {
    val nonPk = src0.columns.filterNot(pk.contains).toSeq
    val src = src0.alias("__s")
    val tg = tgt0.select(src0.columns.map(col).toIndexedSeq: _*).alias("__t")
    src.join(tg, pk.map(k => col(s"__s.$k") === col(s"__t.$k")).reduce(_ && _),
        "full_outer")
      .select(
        pk.map(k => coalesce(col(s"__s.$k"), col(s"__t.$k")).as(k)) ++
        nonPk.map(c => coalesce(col(s"__s.$c"), col(s"__t.$c")).as(c)): _*)
  }

  private def dfDeduped(df: DataFrame, t: TableMigrationDef): DataFrame =
    (t.orderingColumns, t.pkColumns) match {
      case (ord, pk) if ord.nonEmpty && pk.nonEmpty =>
        val payload = df.columns.filterNot(pk.contains)
        df.groupBy(pk.map(col): _*)
          .agg(max_by(
            struct(payload.map(col).toIndexedSeq: _*),
            struct(ord.map(col): _*)).as("__r"))
          .select(df.columns.map { c =>
            if (pk.contains(c)) col(c) else col(s"__r.$c").as(c)
          }.toIndexedSeq: _*)
      case _ => df
    }

  private def intLimit(n: Long, what: String): Int = {
    if (n < 0 || n > Int.MaxValue)
      throw PlanError(s"$what=$n outside supported range [0, ${Int.MaxValue}]")
    n.toInt
  }

  private def dropCalc(s: StructType, calc: Set[String]): StructType =
    StructType(s.fields.filterNot(f => calc.contains(f.name)))

  private[graft] def antiJoinOnPk(
      df: DataFrame, target: Option[DataFrame], t: TableMigrationDef): DataFrame = {
    if (t.pkColumns.isEmpty)
      throw PlanError(s"IfNotExist semantics on '${t.tableName}' need pkColumns")
    target match {
      case None => df // empty target: nothing exists, keep all
      case Some(tgt) =>
        val missing = t.pkColumns.filterNot(tgt.columns.contains)
        if (missing.nonEmpty) throw PlanError(
          s"target '${t.resolvedTargetName}' lacks PK column(s) ${missing.mkString(", ")} " +
            "required for existence filtering")
        // Only PK columns of the target are read (column pruning reaches the
        // scan); join strategy (broadcast vs shuffled) is AQE's runtime call.
        df.join(tgt.select(t.pkColumns.map(col): _*), t.pkColumns, "left_anti")
    }
  }

  /** Execute a planned migration: write (or dry-run) with observed metrics.
    *
    * O16 dry-run: full plan executes against a `noop` sink — identical to
    * the reference's bind-everything-skip-execute gate
    * (DefaultMigratorPlugin.java:393-401).
    * O20 observability: an [[Observation]] counts the rows flowing into the
    * sink (and into the dead letter) without a separate count() job; the
    * reference's per-table migrated/failed totals
    * (MigrateTableTask.java:146-151).
    */
  def execute(spark: SparkSession, cfg: MigrationConfig, t: TableMigrationDef): MigrationResult = {
    val startNanos = System.nanoTime()
    val planned = plan(spark, cfg, t)
    // O17 for batch: pauseMillisBetweenPages paces every task between its
    // pageSize-row pages on the way into the sink (reference
    // MigrateTableTask.java:325-330; 5000 is the reference driver's
    // default fetch/page size when none is configured). Dry runs skip the
    // pacing: O16 is a cheap validation gate, and sleeping through the
    // production throttle schedule while writing nothing would make it as
    // slow as the real run
    val paced = t.pauseMillisBetweenPages.filter(_ > 0 && !t.simulateOnly)
      .map(p => Throttle.paced(planned.data, t.pageSize.getOrElse(5000), p))
      .getOrElse(planned.data)
    val migrated = Observation()
    val observed = paced.observe(migrated, count(lit(1)).as("rows_migrated"))
    // anti-join modes produce ONLY the new rows; patchNullsFromTarget
    // produces the FULL merged set, so it never counts as new-rows-only even
    // when an anti-join filter is also present
    val producesOnlyNewRows = !t.patchNullsFromTarget &&
      (t.writeMode == InsertIfNotExists || t.filters.contains(IfNotExistFilter))
    val targetExists = planned.target.isDefined
    val pathTarget = Tables.isPathFormat(cfg.target)
    var extraWarnings: Seq[String] = Nil
    def write(mode: String): Unit = Tables.write(observed, cfg.target,
      t.resolvedTargetName, mode = mode, ttlColumn = t.ttl.map(_.ttlColumn))
    // O20 periodic status lines while the write runs (reference interval
    // logging, MigrateTableTask.java:369-413)
    val progress = cfg.statusIntervalMillis.map { interval =>
      val r = new BatchProgressReporter(spark, t.tableName, interval)
      r.start(); r
    }
    try {
      // Write disposition against the target, one case each:
      //  - nothing to preserve (no live target): overwrite;
      //  - new rows only: append — existing rows must survive, and
      //    appending never conflicts with the anti-join's scan;
      //  - a live connector table: append — the reference's CQL upsert
      //    NEVER removes existing rows (row-level last-write-wins at the
      //    connector), and mode=overwrite can TRUNCATE a live table through
      //    some DSv2 connectors;
      //  - merge into a path target: the plan READS the target, and Spark
      //    refuses to overwrite a path it is reading, so materialize to a
      //    staging path and swap;
      //  - plain write over a path target: overwrite replaces the whole
      //    table, so target rows absent from the source are DROPPED (the
      //    reference's row-wise upsert would keep them) — warn loudly.
      if (t.simulateOnly) observed.write.format("noop").mode("overwrite").save()
      else if (!targetExists) write("overwrite")
      else if (producesOnlyNewRows || !pathTarget) write("append")
      else if (t.patchNullsFromTarget)
        Tables.writeReplacing(observed, cfg.target, t.resolvedTargetName)
      else {
        if (t.writeMode == Upsert)
          extraWarnings :+= (s"upsert over existing target " +
            s"'${t.resolvedTargetName}' overwrites it: target rows absent " +
            "from the source are dropped (set patchNullsFromTarget=true " +
            "for merge semantics)")
        write("overwrite")
      }
    } finally progress.foreach(_.stop())
    val rowsMigrated = observedCount(migrated, "rows_migrated", t)
    // O19 dead-letter handling: failed rows are preserved next to the
    // target (reference counts rowsFailed and proceeds,
    // MigrateTableTask.java:496-517)
    val rowsFailed = planned.failedRows.fold(0L) { f =>
      if (t.simulateOnly) f.count()
      else {
        val failed = Observation()
        Tables.write(f.observe(failed, count(lit(1)).as("rows_failed")),
          cfg.target, t.resolvedTargetName + "_dead_letter")
        observedCount(failed, "rows_failed", t)
      }
    }
    MigrationResult(
      t.tableName,
      rowsMigrated = rowsMigrated,
      rowsFailed = rowsFailed,
      elapsedMillis = (System.nanoTime() - startNanos) / 1000000L,
      warnings = planned.reconciliation.warnings ++ extraWarnings)
  }

  /** The count an [[Observation]] took of a finished write. Spark completes
    * an observation with an empty row when its query reports no metric for
    * it; that is an error here, never a count of 0.
    */
  private def observedCount(obs: Observation, metric: String, t: TableMigrationDef): Long =
    obs.get.getOrElse(metric, throw PlanError(
      s"write of '${t.tableName}' finished without its observed $metric metric"))
      .asInstanceOf[Long]

  /** Run a whole config — the reference's `DbMigrator.migrate()`
    * (DbMigrator.java:39-106). Sequential by default (dependent tables must
    * run in order — Config.java:46-48); parallel submits per-table Spark
    * jobs concurrently (executor slots are shared fairly).
    */
  def executeAll(spark: SparkSession, cfg: MigrationConfig): Seq[MigrationResult] =
    if (cfg.parallel) {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.sequence(cfg.tables.map(t => Future(execute(spark, cfg, t)))),
        Duration.Inf)
    } else cfg.tables.map(t => execute(spark, cfg, t))
}

final case class MigrationResult(
    table: String,
    rowsMigrated: Long,
    rowsFailed: Long = 0L,
    elapsedMillis: Long = 0L,
    warnings: Seq[String] = Nil) {
  /** Observed throughput (O20 — the rows/s figure the reference never
    * published, SURVEY §6).
    */
  def rowsPerSecond: Double =
    if (elapsedMillis <= 0) 0.0 else rowsMigrated * 1000.0 / elapsedMillis
}
