package graft.streaming

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming end-to-end curation screen — the streaming sibling of the
 * batch c07 pipeline: each micro-batch of crawled documents passes the
 * quality gate (language ID + quality score + repetition screen, all
 * map-only), the graded decontamination drop against a bounded eval set,
 * and exact normalized dedup against EVERYTHING kept so far (the seeded
 * corpus plus every earlier batch), then appends its survivors.
 *
 * State lives in parquet (the [[StreamingNearDup]] posture): one 32-char
 * md5 fingerprint row per seen document — at corpus scale that is
 * billions of rows, past any state store. The store is the shared
 * [[LsmParquetState]] layout: a base partitioned by `__fpp` (the
 * fingerprint's first hex nibble, 16 sub-partitions) plus a flat tail log
 * the batches append to. Per-batch cost: the base is read through a
 * PARTITION filter on the batch's (bounded, ≤ 16) touched-prefix set —
 * untouched sub-partitions' files never open — then a broadcast semi
 * join restricts the surviving rows to the batch's exact fingerprints
 * BEFORE the anti join, so the index never shuffles and never broadcasts
 * whole; shuffled bytes are proportional to the BATCH, not the corpus.
 * Use [[compactFingerprints]] between runs to fold the tail into the
 * base and pay down the per-batch small-file appends.
 *
 * Decontamination screens against eval grams broadcast exactly (the t13
 * shape — eval sets are benchmark-sized). For eval sets too large to
 * broadcast, screen with [[StreamingDecontaminate]]'s constant-size Bloom
 * literal first and keep the exact recheck for flagged docs only.
 *
 * Output contract (oracle-gated as e05): a doc survives iff it passes the
 * gate and decon screens, its fingerprint appears in no earlier batch and
 * not in the seeded index, and it carries the minimum id among its own
 * batch's same-fingerprint survivors. Batch composition decides WHICH
 * duplicate survives (the earliest batch's min-id doc), never WHETHER
 * one does.
 *
 * Delivery: EXACTLY-ONCE across restarts on the LSM layout
 * (`partitionedBase = true`). Survivors land in `keptDir/batch=<id>`
 * with overwrite, the fingerprint append lands in its own
 * `tail/batch=<id>` partition, and the per-batch state scan EXCLUDES the
 * batch's own tail partition — so a replayed in-flight batch recomputes
 * against exactly its first attempt's pre-state and overwrites its own
 * output (replay-spec-pinned; read `keptDir` whole and select the
 * survivor columns — the `batch` partition column comes along
 * otherwise). On a FLAT fingerprint store the old posture stays:
 * survivors append, fingerprints append flat, delivery is at-least-once
 * (dedup downstream by id if exactly-once matters) — flat appends can't
 * hide a replay's own fingerprints, so an overwrite would delete its
 * survivors. Either way the survivor write lands BEFORE the fingerprint
 * append: the reverse order would let a crash between them lose the
 * batch's survivors on a flat store.
 */
object StreamingCuration {

  /** First hex nibble of the fingerprint as an int — 16 sub-partitions. */
  private def fpp(fp: Column): Column =
    conv(substring(fp, 1, 1), 16, 10).cast("int")

  private val layout = LsmLayout(
    partitionCols = Seq("__fpp"),
    derivedCols = Seq("__fpp"),
    derive = _.withColumn("__fpp", fpp(col("fp"))))

  /** Seed the fingerprint index from an already-curated corpus (empty
    * corpus frames are fine — the write still lays down the schema the
    * per-batch reads need), deciding the layout by corpus size against
    * [[LsmParquetState.partitionedBaseThreshold]] — the single policy
    * shared with [[StreamingNearDup.seedIndex]].
    */
  def seedFingerprints(corpus: DataFrame, textCol: String,
      fpDir: String): Unit =
    seedFingerprints(corpus, textCol, fpDir,
      LsmParquetState.autoPartitioned(corpus))

  /** Explicit-layout seed. `partitionedBase = false` keeps the store
    * FLAT: the per-batch probe is already restricted to O(batch) rows by
    * a broadcast semi join, so at moderate store sizes the flat scan is
    * the cheapest posture (measured ~2× faster end-to-end at sf0.1,
    * where each batch's fingerprints touch every prefix anyway). Pass
    * `true` when the store is truly corpus-scale AND batches are small
    * relative to it — then the [[LsmParquetState]] base/tail layout
    * statically prunes each batch's base read to its (bounded)
    * touched-prefix set, and [[compactFingerprints]] folds the tail.
    * [[start]] detects the layout per batch; both postures produce
    * identical survivors (spec-pinned).
    */
  def seedFingerprints(corpus: DataFrame, textCol: String,
      fpDir: String, partitionedBase: Boolean): Unit = {
    val fps = corpus.select(md5(Dedup.normalized(col(textCol))).as("fp"))
      .distinct()
    if (partitionedBase) LsmParquetState.seed(fps, fpDir, layout)
    else fps.write.mode("overwrite").parquet(fpDir)
  }

  /** Every stored fingerprint, base ∪ tail. */
  private[streaming] def fingerprintSnapshot(spark: SparkSession,
      fpDir: String): DataFrame =
    LsmParquetState.snapshot(spark, fpDir, layout)

  /** Fold the fingerprint tail log into a fresh partitioned base —
    * crash-safe swap, see [[LsmParquetState.compact]]. Call BETWEEN runs.
    */
  def compactFingerprints(spark: SparkSession, fpDir: String): Unit =
    LsmParquetState.compact(spark, fpDir, layout)

  /** Start the screen over a streaming frame of `(idCol, textCol,
    * langCol)` docs. Ids must be unique across the stream. Rate limiting
    * belongs on the caller's source (`maxFilesPerTrigger` /
    * `maxOffsetsPerTrigger`), the [[StreamingNearDup]] convention.
    * Survivors land in `keptDir` as (idCol, langCol, quality).
    */
  def start(source: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, langCol: String,
      fpDir: String, keptDir: String, checkpointDir: String,
      lang: String = "en", minQuality: Double = 0.9,
      maxDupBigramFrac: Double = 0.05,
      overlapN: Int = 5, overlapThreshold: Double = 0.5): StreamingQuery = {
    require(!evalDocs.isStreaming, "the eval set must be a bounded batch frame")
    // fingerprint compaction refuses while this query is pending/live
    LsmParquetState.startOwning(source, checkpointDir, Seq(fpDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, evalDocs, idCol, textCol, langCol,
          fpDir, keptDir, lang, minQuality, maxDupBigramFrac, overlapN,
          overlapThreshold)
    }
  }

  /** Start the screen with the PER-BATCH STAGES DECLARED AS CONFIG — the
    * reference's config-as-query identity (a YAML definition EXECUTED as
    * a stream, TableMigrationDefinition.java:17-139 driving
    * MigrateTableTask.java:304-345's paged pull) extended to the curation
    * family: `cfg`'s `stages:` compile through the SAME
    * [[graft.pipeline.StagePipeline]] registry the batch front-end (c31)
    * uses, applied to each micro-batch, and the stateful cross-batch
    * dedup + batch-keyed delivery is [[dedupAndCommit]] — the exact
    * code [[start]] runs. A `stages:` list of (qualityGate,
    * decontaminate) is therefore RESULT-IDENTICAL to [[start]] with the
    * matching thresholds (oracle-pinned: e35 gates this path against
    * e05's oracle verbatim).
    *
    * Fail-closed: every stage resolves and the compiled pipeline's
    * column contract — (idCol, textCol, langCol, quality) out, the
    * columns [[dedupAndCommit]] consumes — is checked against the
    * source schema BEFORE the stream starts (the reference's init-time
    * plugin loading, DbMigrator.java:59-74); a typo'd stage or a
    * contract-breaking pipeline never reaches a live foreachBatch.
    * Stage `materialize:` flags are ignored here: a micro-batch is
    * already bounded, and an eager per-batch checkpoint would pin
    * blocks for the stream's lifetime.
    */
  def startFromConfig(spark: SparkSession, source: DataFrame,
      cfg: graft.model.PipelineConfig, tables: Map[String, DataFrame],
      idCol: String, textCol: String, langCol: String,
      fpDir: String, keptDir: String, checkpointDir: String): StreamingQuery = {
    require(tables.values.forall(!_.isStreaming),
      "aux tables must be bounded batch frames")
    graft.pipeline.StagePipeline.validate(cfg)
    // dry-compile against an empty frame with the source's schema: the
    // column contract must fail at START, not in batch 0
    val probe = graft.pipeline.StagePipeline.compile(cfg,
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        source.schema),
      tables, materializeIntermediates = false)
    val missing = Seq(idCol, textCol, langCol, "quality")
      .filterNot(probe.columns.contains)
    require(missing.isEmpty,
      s"config pipeline must emit (${Seq(idCol, textCol, langCol,
        "quality").mkString(", ")}) for the curation state fold; " +
        s"missing: ${missing.mkString(", ")}")
    LsmParquetState.startOwning(source, checkpointDir, Seq(fpDir)) {
      (batch, batchId) =>
        processConfigBatch(batch, batchId, cfg, tables, idCol, textCol,
          langCol, fpDir, keptDir)
    }
  }

  /** One micro-batch of the CONFIG-declared screen — compile the YAML
    * stages over the batch, then the shared stateful fold. Split out for
    * the replay spec (the [[processBatch]] convention).
    */
  private[streaming] def processConfigBatch(batch: DataFrame, batchId: Long,
      cfg: graft.model.PipelineConfig, tables: Map[String, DataFrame],
      idCol: String, textCol: String, langCol: String,
      fpDir: String, keptDir: String): Unit =
    dedupAndCommit(batch,
      graft.pipeline.StagePipeline.compile(cfg, batch, tables,
        materializeIntermediates = false),
      batchId, idCol, textCol, langCol, fpDir, keptDir)

  /** One micro-batch of the screen — the foreachBatch body, split out so
    * the replay spec can drive it with a pinned `batchId` through the
    * exact production path (see the delivery contract above). The
    * stateless per-batch screen (gate + decon) lives here; everything
    * stateful (cross-batch dedup, batch-keyed writes) is the shared
    * [[dedupAndCommit]] the config-driven twin also routes through.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      evalDocs: DataFrame,
      idCol: String, textCol: String, langCol: String,
      fpDir: String, keptDir: String,
      lang: String, minQuality: Double, maxDupBigramFrac: Double,
      overlapN: Int, overlapThreshold: Double): Unit = {
    val (dupB, _) = TextAnalysis.repetitionScores(col(textCol))
    val gated = batch.select(col(idCol), col(textCol), col(langCol),
        TextAnalysis.langId(col(textCol)).as("__pred"),
        TextAnalysis.qualityScore(col(textCol)).as("quality"),
        dupB.as("__dupb"))
      .filter(col("__pred") === lang && col("quality") >= minQuality &&
        col("__dupb") <= maxDupBigramFrac)
      .select(col(idCol), col(textCol), col(langCol), col("quality"))
    val flagged = TextAnalysis.contaminationOverlap(
        gated.select(col(idCol), col(textCol)), evalDocs, idCol, textCol,
        n = overlapN, threshold = overlapThreshold)
      .filter(col("contaminated")).select(idCol)
    val decon = gated.join(flagged, Seq(idCol), "left_anti")
    dedupAndCommit(batch, decon, batchId, idCol, textCol, langCol,
      fpDir, keptDir)
  }

  /** The STATEFUL half of a curation micro-batch, shared by the
    * code-built screen ([[processBatch]]) and the YAML-declared one
    * ([[processConfigBatch]]): cross-batch exact dedup of the already-
    * screened docs against the fingerprint state, then the batch-keyed
    * survivor + fingerprint writes (the delivery contract above).
    * `screened` must carry (idCol, textCol, langCol, quality); `batch`
    * is the RAW micro-batch, used only to bound the touched-prefix set
    * (a superset of the screened docs' prefixes — so the screen chain
    * never re-executes for the prefix collect).
    */
  private[streaming] def dedupAndCommit(batch: DataFrame,
      screened: DataFrame, batchId: Long,
      idCol: String, textCol: String, langCol: String,
      fpDir: String, keptDir: String): Unit = {
    val s = batch.sparkSession
    val deduped = Dedup.normalizedDedup(screened, idCol, textCol)
      .withColumn("__fp", md5(Dedup.normalized(col(textCol))))
    // restriction of the stored index before the anti join: on the
    // partitioned-base layout, the bounded touched-prefix set —
    // computed from the RAW batch, a superset of the gated docs'
    // prefixes, so the gate chain never re-executes — statically
    // prunes the base read's file set first; either way a broadcast
    // semi join then restricts surviving rows to the batch's exact
    // fingerprints. Both joins stay broadcast-side-small and the
    // index itself never exchanges.
    val batchFps = deduped.select(col("__fp").as("fp")).distinct()
    // the scans exclude this batch's own tail/batch=<id> rows: a REPLAY
    // must anti-join against the state as of before its first attempt,
    // or it would see its own half-appended fingerprints and silently
    // drop (with the overwrite below: DELETE) its own survivors
    val lsm = LsmParquetState.hasBase(s, fpDir)
    val stored =
      if (lsm) {
        // null text yields a null fingerprint (the doc dies at the
        // gate anyway) — drop it here or getInt NPEs on the driver
        val touched = batch
          .select(fpp(md5(Dedup.normalized(col(textCol)))).as("__fpp"))
          .filter(col("__fpp").isNotNull)
          .distinct().collect().map(_.getInt(0))
        LsmParquetState.scan(s, fpDir, layout,
          if (touched.isEmpty) lit(false)
          else col("__fpp").isin(touched.toIndexedSeq: _*),
          Some(batchId))
      } else LsmParquetState.scan(s, fpDir, layout, lit(true), Some(batchId))
    val seen = stored.join(broadcast(batchFps), Seq("fp"), "left_semi")
    // `fresh` feeds both appends — left lazy, the whole gate + decon +
    // dedup chain would execute twice per batch
    val fresh = deduped
      .join(broadcast(seen), col("__fp") === col("fp"), "left_anti")
      .persist()
    try {
      val survivors = fresh.select(col(idCol), col(langCol), col("quality"))
      // exactly-once needs BOTH batch-keyed writes and a state scan that
      // can hide the batch's own fingerprints from its replay — only the
      // LSM layout gives the latter, so a legacy FLAT store keeps the
      // old append posture (at-least-once; an overwrite there would let
      // a replay anti-join against its own flat-appended fingerprints
      // and delete its survivors)
      if (lsm) {
        survivors.write.mode("overwrite").parquet(s"$keptDir/batch=$batchId")
        LsmParquetState.append(
          fresh.select(col("__fp").as("fp")).distinct(), fpDir, Some(batchId))
      } else {
        survivors.write.mode("append").parquet(keptDir)
        LsmParquetState.append(
          fresh.select(col("__fp").as("fp")).distinct(), fpDir)
      }
    } finally fresh.unpersist(blocking = false)
  }
}
