package graft.streaming

import graft.operators.DqAudit
import graft.operators.DqAudit.{DqRule, ForeignKey, UniqueKey}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming data-quality monitor — the ingest-time form of the
 * [[DqAudit]] batch gate: every micro-batch runs the rule battery over
 * its own rows (null / range screens, referential integrity against
 * STATIC reference tables) and lands its violation counts in a
 * batch-keyed partition, so the accumulated report is always one
 * aggregation away and a replayed batch overwrites its own counts
 * (exactly-once, the e08 pattern).
 *
 * Rule scope: NotNull / RangeRule / ForeignKey-against-static-reference
 * distribute over batches directly (corpus violations = Σ per-batch
 * violations, which is what makes the drained report equal the batch
 * audit). A ForeignKey whose reference table IS the streaming table is
 * refused — it would resolve against the per-batch frame and count
 * legitimate cross-batch references as violations.
 *
 * [[UniqueKey]] is NOT batch-local (cross-batch duplicates are
 * invisible to a per-batch count) and is handled with cross-batch
 * STATE instead: each rule keeps the distinct key tuples seen so far in
 * an [[LsmParquetState]] store (`<countsDir>.keys/<rule>`, base
 * partitioned by `pmod(hash(keys), 64)` so each batch's newness
 * anti-join prunes to its touched prefixes). The batch audit identity
 *   `violations = count(*) − count(distinct key)`
 * distributes as `Σ_b [rows_b − |distinct keys of b not seen before|]`
 * — exact (keys are stored AS VALUES, not hashes), replay-exact (reads
 * exclude the batch's own tail partition, appends are batch-keyed
 * overwrites), and the drained report equals the whole-corpus
 * [[DqAudit]] audit row for row.
 *
 * State: `countsDir/batch=<id>` — one tiny parquet per batch (one row
 * per rule); plus one key store per UniqueKey rule (vocabulary-scale =
 * distinct keys, skinny). [[report]] folds the counts; the fold is
 * rule-count-bounded. [[compactKeys]] folds each key store's tail
 * between runs.
 */
object StreamingDqMonitor {

  /** Sub-partitions of a key store's base. */
  val keyPrefixes: Int = 64

  /** Key store directory of a UniqueKey rule — a SIBLING of countsDir
    * (`batch=` partition discovery under countsDir must see only count
    * files).
    */
  def keysDirFor(countsDir: String, ruleName: String): String =
    countsDir.stripSuffix("/") + s".keys/$ruleName"

  private def keysLayout(columns: Seq[String]) = LsmLayout(
    Seq("__kp"), Seq("__kp"),
    df => df.withColumn("__kp",
      pmod(hash(columns.map(col): _*), lit(keyPrefixes)).cast("int")))

  /** The accumulated audit after draining: (check, type, table,
    * violations, total) summed over all batches.
    */
  def report(spark: SparkSession, countsDir: String): DataFrame =
    BatchMarker.readAll(spark, countsDir)
      .groupBy("check", "type", "table")
      .agg(sum(col("violations")).as("violations"),
        sum(col("total")).as("total"))

  /** Fold each UniqueKey rule's key-store tail into a fresh partitioned
    * base. Call BETWEEN runs (claimed/guarded like every LSM store).
    */
  def compactKeys(spark: SparkSession, countsDir: String,
      rules: Seq[DqRule]): Unit =
    rules.collect { case r: UniqueKey =>
      LsmParquetState.compact(spark, keysDirFor(countsDir, r.name),
        keysLayout(r.columns))
    }

  def start(spark: SparkSession, source: DataFrame, tableName: String,
      refTables: Map[String, DataFrame], rules: Seq[DqRule],
      countsDir: String, checkpointDir: String): StreamingQuery = {
    require(rules.nonEmpty, "no rules to audit")
    require(rules.forall(_.table == tableName),
      s"every rule must target the streaming table '$tableName'")
    rules.foreach {
      case ForeignKey(name, _, _, refTable, _) =>
        require(refTable != tableName,
          s"ForeignKey rule '$name' references the streaming table " +
            s"'$tableName' itself — it would resolve against each " +
            "micro-batch frame and count cross-batch references as " +
            "violations; reference tables must be static")
      case _ => ()
    }
    refTables.values.foreach(r => require(!r.isStreaming,
      "reference tables must be bounded batch frames"))
    val keyDirs = rules.collect { case r: UniqueKey =>
      keysDirFor(countsDir, r.name) }
    LsmParquetState.startOwning(source, checkpointDir, countsDir +: keyDirs) {
      (batch, batchId) =>
        processBatch(batch, batchId, tableName, refTables, rules, countsDir)
    }
  }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      tableName: String, refTables: Map[String, DataFrame],
      rules: Seq[DqRule], countsDir: String): Unit = {
    val (unique, local) = rules.partition(_.isInstanceOf[UniqueKey])
    val localAudit =
      if (local.isEmpty) None
      else Some(DqAudit.run(refTables + (tableName -> batch), local))
    val uniqueAudits = unique.collect { case r: UniqueKey =>
      uniqueKeyBatch(batch, batchId, tableName, r, countsDir)
    }
    val all = (localAudit.toSeq ++ uniqueAudits).reduce(_.unionByName(_))
    all.write.mode("overwrite").parquet(s"$countsDir/batch=$batchId")
  }

  /** One UniqueKey rule over one batch: the batch's incremental
    * violation contribution `rows − newly-seen distinct keys`, plus the
    * batch-keyed key-store append. Exact key values (no hashes) so the
    * count matches [[DqAudit]] bit-for-bit.
    */
  private def uniqueKeyBatch(batch: DataFrame, batchId: Long,
      tableName: String, rule: UniqueKey, countsDir: String): DataFrame = {
    val s = batch.sparkSession
    val dir = keysDirFor(countsDir, rule.name)
    val layout = keysLayout(rule.columns)
    val keyed = batch.select(rule.columns.map(col): _*)
    if (!LsmParquetState.hasBase(s, dir))
      LsmParquetState.seed(keyed.limit(0), dir, layout)
    val batchKeys = keyed.distinct().persist()
    try {
      // newness anti-join against the stored key set, pruned to the
      // batch's touched prefix partitions (bounded ≤ keyPrefixes collect)
      val touched = batchKeys
        .select(pmod(hash(rule.columns.map(col): _*), lit(keyPrefixes))
          .cast("int").as("__kp"))
        .distinct().collect().map(_.getInt(0))
      val pred =
        if (touched.isEmpty) lit(false)
        else col("__kp").isin(touched.toSeq: _*)
      val stored = LsmParquetState.scan(s, dir, layout, pred, Some(batchId))
      // null-safe equality per key column: DISTINCT (and the batch
      // audit's count_distinct(struct)) treat null as a value, so the
      // newness join must too — a plain equi-join would re-count a
      // null-bearing key as new every batch
      val cond = rule.columns
        .map(c => batchKeys(c) <=> stored(c)).reduce(_ && _)
      val newKeys = batchKeys.join(stored, cond, "left_anti")
      val counts = batch.agg(count(lit(1)).as("__rows"))
        .crossJoin(newKeys.agg(count(lit(1)).as("__new")))
      LsmParquetState.appendTail(newKeys, dir, Some(batchId))
      counts.select(lit(rule.name).as("check"),
        lit("unique_key").as("type"), lit(tableName).as("table"),
        (col("__rows") - col("__new")).as("violations"),
        col("__rows").as("total"))
    } finally batchKeys.unpersist()
  }
}
