package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Shared base+tail parquet state store for streaming operators whose
 * cross-batch state is corpus-scale — the LSM shape behind
 * [[StreamingNearDup]]'s LSH index and [[StreamingCuration]]'s
 * fingerprint index:
 *
 *   - `<dir>/base`: the corpus-scale part, partitioned by the layout's
 *     derived prefix column(s). Written once per seed/compaction, so the
 *     wide partition fan-out write is amortized over the run.
 *   - `<dir>/tail`: a flat append log of recent per-batch state rows —
 *     a handful of plain files per batch, never a per-partition fan-out.
 *
 * A micro-batch reads the base through a caller-built PARTITION filter
 * on its (bounded) touched-prefix set — resolved at planning time
 * against the directory values, so untouched sub-partitions' files are
 * never opened — then unions the full (small) tail. [[compact]] folds
 * the tail into a fresh base; the swap is crash-safe (`current → .bak`,
 * `tmp → current`, `delete .bak` — a complete copy exists at every
 * instant, and [[recover]] heals every half-state).
 *
 * Layout contract: `derive` adds the derived partition column(s) to a
 * logical frame; `partitionCols` lists ALL partition columns (logical
 * ones included); `derivedCols` the subset that [[snapshot]] must drop
 * to recover the logical schema.
 */
private[streaming] final case class LsmLayout(
    partitionCols: Seq[String],
    derivedCols: Seq[String],
    derive: DataFrame => DataFrame)

private[streaming] object LsmParquetState {

  /** An in-JVM registry of state directories owned by LIVE streaming
    * queries, so [[compact]] can refuse to run under an active stream
    * instead of silently racing its swap against a micro-batch's
    * reads/appends (the "call BETWEEN runs" contract, now enforced).
    * Operators claim their state dirs before `start` (see
    * [[startOwning]]); the guard prunes entries whose query has since
    * stopped. The registry is driver-JVM-local by design: every
    * foreachBatch writer of these stores runs in the driver that started
    * it, so the footgun this guards against — compacting a store THIS
    * process is streaming into — is exactly the in-JVM case. A stream in
    * a different driver is out of scope (same as Spark's own state-store
    * locking) and stays covered by the documented between-runs contract.
    */
  private final case class Owner(label: String, isActive: () => Boolean)
  private val owners =
    new java.util.concurrent.ConcurrentHashMap[String, Owner]()

  private def ownerKey(dir: String): String = dir.stripSuffix("/")

  /** A registration taken out BEFORE `start()` returns, closing the
    * window where the first micro-batch is already live but no owner is
    * registered yet (a concurrent [[compact]] would pass the guard and
    * swap the directory under it). The handle counts as ACTIVE from
    * creation until [[PendingOwner.bind]] hands it the started query
    * (after which liveness delegates to `query.isActive`) or
    * [[PendingOwner.cancel]] releases it (the `start()`-threw path).
    */
  final class PendingOwner private[LsmParquetState] (val label: String) {
    @volatile private var query:
        Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    @volatile private var cancelled = false
    private[LsmParquetState] def active: Boolean =
      !cancelled && query.forall(_.isActive)
    /** Delegate liveness to the now-started query. */
    def bind(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      query = Some(q)
    /** Release without ever binding (start failed / work finished). */
    def cancel(): Unit = cancelled = true
  }

  /** Register a pending owner for `dir`, refusing if another owner is
    * still active (the reverse race: starting a stream over a directory
    * a compaction is mid-swap on now fails fast instead of reading a
    * half-swapped store). Callers: take the handle BEFORE `start()`,
    * `bind` the query once it returns, `cancel` on failure.
    */
  def registerPending(dir: String,
      label: String = "starting streaming query"): PendingOwner = {
    val k = ownerKey(dir)
    val existing = owners.get(k)
    if (existing != null && existing.isActive())
      throw new IllegalStateException(
        s"refusing to claim $dir: ${existing.label} is active over this " +
          "state directory — stop the stream first (a concurrent claim " +
          "would race its reads and appends)")
    val h = new PendingOwner(label)
    owners.put(k, Owner(label, () => h.active))
    h
  }

  /** The one start of every `foreachBatch` streaming operator: take
    * pending ownership of every dir in `owns` (in order), start `source`
    * as an `AvailableNow` query running `batch` per micro-batch and
    * checkpointed at `checkpointDir`, then bind the query to all claims.
    * If the start throws, the claims are released and the error rethrown.
    */
  def startOwning(source: DataFrame, checkpointDir: String, owns: Seq[String])(
      batch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val handles = new scala.collection.mutable.ArrayBuffer[PendingOwner]
    try {
      owns.foreach(d => handles += registerPending(d))
      val q = source.writeStream
        .foreachBatch(batch)
        .option("checkpointLocation", checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      handles.foreach(_.bind(q))
      q
    } catch {
      case e: Throwable => handles.foreach(_.cancel()); throw e
    }
  }

  /** Test seam / non-query owners: register by label + liveness thunk. */
  private[streaming] def registerOwner(dir: String, label: String,
      isActive: () => Boolean): Unit =
    owners.put(ownerKey(dir), Owner(label, isActive))

  /** Throw if a registered owner of `dir` is still active; prune the
    * entry once its query has stopped. Cheap (one map probe + one
    * `isActive` flag read), so every compaction path calls it.
    */
  def guardNotStreaming(dir: String, what: String = "compact"): Unit = {
    val k = ownerKey(dir)
    val o = owners.get(k)
    if (o != null) {
      if (o.isActive())
        throw new IllegalStateException(
          s"refusing to $what $dir: ${o.label} is active over this state " +
            "directory — stop the stream first (compaction swaps the " +
            "directory out from under live reads and appends)")
      owners.remove(k, o)
    }
  }

  /** Crossover for the DEFAULT layout choice at seed time, in corpus
    * rows: below it the store seeds FLAT (the fully-supported legacy
    * posture), at or above it the partitioned base+tail layout. The
    * partitioned base buys O(touched partitions) per-batch scan I/O but
    * costs a partition fan-out at seed/compaction and per-batch planning
    * overhead over hundreds of directories — measured ~1.5× end-to-end
    * overhead at a 10^4..10^5-row fixture store where every batch
    * touches most partitions anyway (isolated A/B, BENCH_AB_r09.md).
    * The pruning pays once partitions hold enough data that NOT opening
    * them beats the bookkeeping — O(10^6) rows is conservatively past
    * that. Callers with better knowledge pass the posture explicitly;
    * both layouts produce identical results (spec-pinned).
    */
  val partitionedBaseThreshold: Long = 1000000L

  /** The default layout decision: one `count()` over the seed corpus
    * (columnar-cheap on parquet sources) against
    * [[partitionedBaseThreshold]].
    */
  def autoPartitioned(corpus: DataFrame): Boolean =
    corpus.count() >= partitionedBaseThreshold

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Memoized parquet reads of state directories. Every
    * `spark.read.parquet` resolves a fresh file index — for the
    * partitioned base that is a listing walk over hundreds of
    * sub-partition directories, and monitors call scan/scanBaseOnly/
    * scanTailTagged SEVERAL times per micro-batch, so the same listing
    * used to run 2–4× per batch on state that had not changed (the base
    * only changes at seed/compaction, the tail once per append). Entries
    * key on (session, path) and every mutation path invalidates its
    * directory subtree, so a cached frame can never show stale state.
    * The cache holds raw source frames only (downstream filters/unions
    * build on top per call); a crude size bound guards long test runs
    * with many sessions.
    */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()

  private def cachedRead(spark: SparkSession, path: String): DataFrame = {
    if (readCache.size > 256) readCache.clear()
    readCache.computeIfAbsent(
      (System.identityHashCode(spark), path), _ => spark.read.parquet(path))
  }

  /** Drop every cached read whose path is inside `dir` (or an ancestor
    * of it — a seed deletes the whole tree; an append under `dir/tail`
    * must kill the `dir/tail` listing). All sessions.
    */
  private def invalidateReads(dir: String): Unit = {
    val root = ownerKey(dir)
    val it = readCache.keySet.iterator()
    while (it.hasNext) {
      val k = it.next()
      val p = k._2.stripSuffix("/")
      if (p == root || p.startsWith(root + "/") || root.startsWith(p + "/"))
        it.remove()
    }
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsOf(spark, dir)
    fs.exists(p)
  }

  def hasBase(spark: SparkSession, dir: String): Boolean =
    exists(spark, s"$dir/base")

  /** Overwrite the partitioned base. One repartition by the partition
    * columns first, so each live sub-partition receives exactly ONE file
    * (only the skinny state rows shuffle) — without it every writing
    * task would emit a file into every partition it holds rows for.
    * Runs at seed/compaction, never per micro-batch.
    *
    * `rowsPerFile > 0` additionally bounds file sizes: ONE grouped
    * sizing aggregate finds the LARGEST sub-partition and every
    * sub-partition is salted into enough write tasks that the hot one
    * splits too (an average-based split would leave a skewed partition
    * serialized through one task). The COMPACTION path pays the sizing
    * job; seeding passes 0 and accepts one file per sub-partition
    * rather than re-executing a possibly-expensive seed plan.
    *
    * An EMPTY frame writes a flat zero-row parquet file instead: a
    * partitioned write of nothing lays down no files at all, and a later
    * read of the base could not even infer a schema. [[scan]] detects
    * the flat-empty base by its missing partition columns.
    */
  def writeBase(df: DataFrame, dir: String, layout: LsmLayout,
      rowsPerFile: Long = 0L): Unit = {
    val derived = layout.derive(df)
    val filesPerPart =
      if (rowsPerFile <= 0) 1L
      else {
        val r = derived.groupBy(layout.partitionCols.map(col): _*)
          .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).head()
        if (r.isNullAt(0)) 1L
        else math.max(1L, (r.getLong(0) + rowsPerFile - 1) / rowsPerFile)
      }
    val shaped =
      if (filesPerPart <= 1L)
        derived.repartition(layout.partitionCols.map(col): _*)
      else {
        // spread each sub-partition's rows over ~filesPerPart write tasks
        // (the salt), with an EXPLICIT partition count — an
        // expression-only repartition lets AQE coalesce the tiny groups
        // back into one task, which would both serialize the write and
        // collapse the split
        val n = math.min(20000L,
          math.max(32L, filesPerPart * 4 * layout.partitionCols.size)).toInt
        derived.repartition(n, layout.partitionCols.map(col) :+
          pmod(hash(df.columns.map(col).toIndexedSeq: _*),
            lit(filesPerPart.toInt)): _*)
      }
    val writer = shaped.write.mode("overwrite")
      .partitionBy(layout.partitionCols: _*)
    // the hard per-file bound, task placement aside
    (if (rowsPerFile > 0) writer.option("maxRecordsPerFile", rowsPerFile)
     else writer).parquet(s"$dir/base")
    // empty frame: the partitioned write lays down no data files (and so
    // no schema for later reads to infer) — rewrite flat-empty instead;
    // scan() detects it by the missing partition columns
    val (fs, p) = fsOf(df.sparkSession, s"$dir/base")
    if (!fs.listStatus(p).exists(_.isDirectory))
      df.write.mode("overwrite").parquet(s"$dir/base")
    invalidateReads(dir)
  }

  /** Reset the whole store to exactly `df` (seed). */
  def seed(df: DataFrame, dir: String, layout: LsmLayout): Unit = {
    val (fs, p) = fsOf(df.sparkSession, dir)
    if (fs.exists(p)) fs.delete(p, true)
    writeBase(df, dir, layout)
  }

  /** Per-batch append into the tail log. With a `batchId` the batch's
    * rows land in their own `tail/batch=<id>` partition, OVERWRITTEN on
    * a foreachBatch replay — restart-idempotent state, no duplicate rows
    * however often the batch replays. Without one (or on a legacy tail
    * that already holds flat files — mixing files and `batch=` dirs in
    * one directory breaks partition discovery) the rows append as plain
    * flat files, at-least-once across replays. Readers are agnostic:
    * [[scan]] selects the state columns by name, dropping the `batch`
    * partition column either way.
    */
  def appendTail(df: DataFrame, dir: String,
      batchId: Option[Long] = None): Unit = {
    batchId match {
      case Some(id) if !tailIsFlat(df.sparkSession, dir) =>
        df.write.mode("overwrite").parquet(s"$dir/tail/batch=$id")
      case _ => df.write.mode("append").parquet(s"$dir/tail")
    }
    invalidateReads(dir)
  }

  /** Whether `<dir>/tail` already holds plain flat files (a pre-batch-id
    * writer's log) — once flat, appends must stay flat.
    */
  private def tailIsFlat(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsOf(spark, s"$dir/tail")
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
  }

  /** Layout-aware per-batch append: tail log on the LSM layout, plain
    * flat append at the root on a legacy flat store — a tail under a
    * flat store would be invisible to its plain reads. The single place
    * the posture rule lives; operators should call this, not choose.
    * `batchId` makes the LSM-tail append replay-idempotent (see
    * [[appendTail]]); a legacy flat store stays at-least-once.
    */
  def append(df: DataFrame, dir: String, batchId: Option[Long] = None): Unit =
    if (hasBase(df.sparkSession, dir)) appendTail(df, dir, batchId)
    else { df.write.mode("append").parquet(dir); invalidateReads(dir) }

  // NOTE (r18, measured-not-worth-it): an `appendRead` variant that
  // materialized merged-state frames THROUGH their tail write and had
  // downstream consumers read the written parquet back (saving the
  // localCheckpoint job) measured 5–12% SLOWER across e22/e24/e31/e32 —
  // the per-read parquet listing + footer + disk scan costs more than
  // the one memory-backed checkpoint job it saves. The checkpoint-then-
  // append shape stands.

  /** The pruned read: base restricted by `basePredicate` (built by the
    * caller over the layout's partition columns — it classifies as a
    * PartitionFilter, static pruning) unioned with the full tail.
    * `basePredicate = lit(false)` reads only the tail. Falls back to a
    * plain scan of `dir` on a legacy flat layout (no `base` subdir).
    *
    * `excludeTailBatch`: drop the given batch's own `tail/batch=<id>`
    * rows from the read — a foreachBatch REPLAY must see the state
    * exactly as it was before its first attempt, or it would compute
    * against its own half-appended rows (duplicated verification docs;
    * an anti join killing its own batch's output). A partition filter on
    * the tail's `batch` column, so the excluded directory's files never
    * open; no-op when the tail has no batch partitions (legacy flat
    * tails — those replays are documented at-least-once).
    */
  def scan(spark: SparkSession, dir: String, layout: LsmLayout,
      basePredicate: Column,
      excludeTailBatch: Option[Long] = None): DataFrame = {
    def tail(cols: Seq[String]): DataFrame = {
      val raw = cachedRead(spark, s"$dir/tail")
      val t = excludeTailBatch match {
        case Some(id) if raw.columns.contains("batch") =>
          raw.filter(col("batch") =!= id)
        case _ => raw
      }
      t.select(cols.map(col): _*)
    }
    if (!hasBase(spark, dir)) {
      // legacy flat layout. A flat read silently IGNORES any tail/
      // subdirectory, so if one exists (a writer mixed layouts), union
      // it explicitly rather than silently dropping its rows.
      val flat = cachedRead(spark, dir)
      return if (!exists(spark, s"$dir/tail")) flat
      else flat.unionByName(tail(flat.columns.toIndexedSeq))
    }
    val raw = cachedRead(spark, s"$dir/base")
    // a flat-empty base (empty seed) carries no partition columns — the
    // predicate would not resolve, and there is nothing to prune anyway
    val base = (if (layout.partitionCols.forall(raw.columns.contains))
      raw.filter(basePredicate) else raw).drop(layout.derivedCols: _*)
    if (!exists(spark, s"$dir/tail")) base
    else base.unionByName(tail(base.columns.toIndexedSeq))
  }

  /** Every state row, base ∪ tail — the compaction/inspection read. */
  def snapshot(spark: SparkSession, dir: String, layout: LsmLayout): DataFrame =
    scan(spark, dir, layout, lit(true))

  /** The BASE only (no tail), pruned by `basePredicate` — for stores
    * whose tail rows OVERRIDE base rows (latest-wins state like the
    * entity-resolution cluster map), where the caller must resolve the
    * two sides itself instead of taking [[scan]]'s plain union. Requires
    * the LSM layout (a legacy flat store has no base/tail distinction to
    * separate).
    */
  def scanBaseOnly(spark: SparkSession, dir: String, layout: LsmLayout,
      basePredicate: Column): DataFrame = {
    require(hasBase(spark, dir), s"$dir has no base subdirectory — " +
      "scanBaseOnly needs the LSM layout")
    val raw = cachedRead(spark, s"$dir/base")
    (if (layout.partitionCols.forall(raw.columns.contains))
      raw.filter(basePredicate) else raw).drop(layout.derivedCols: _*)
  }

  /** The TAIL only, each row tagged `__tail_batch` (its `batch=` id, or
    * −1 for legacy flat tail files) — the provenance a latest-wins
    * resolution orders by. Empty-schema-correct when no tail exists.
    */
  def scanTailTagged(spark: SparkSession, dir: String, layout: LsmLayout,
      excludeTailBatch: Option[Long] = None): DataFrame = {
    val stateCols =
      scanBaseOnly(spark, dir, layout, lit(false)).columns.toIndexedSeq
    if (!exists(spark, s"$dir/tail"))
      return scanBaseOnly(spark, dir, layout, lit(false))
        .withColumn("__tail_batch", lit(-1L)).limit(0)
    val raw = cachedRead(spark, s"$dir/tail")
    val t = excludeTailBatch match {
      case Some(id) if raw.columns.contains("batch") =>
        raw.filter(col("batch") =!= id)
      case _ => raw
    }
    val tagged =
      if (raw.columns.contains("batch"))
        t.withColumn("__tail_batch", col("batch").cast("long"))
      else t.withColumn("__tail_batch", lit(-1L))
    tagged.select((stateCols :+ "__tail_batch").map(col): _*)
  }

  /** Every state row tagged with its provenance: base rows (and legacy
    * flat rows) as `__tail_batch = −1`, tail rows as their batch id —
    * what a latest-wins [[compact]] `resolve` hook consumes.
    */
  def snapshotTagged(spark: SparkSession, dir: String,
      layout: LsmLayout): DataFrame =
    if (!hasBase(spark, dir)) {
      val flat = cachedRead(spark, dir).withColumn("__tail_batch", lit(-1L))
      if (!exists(spark, s"$dir/tail")) flat
      else {
        val t = cachedRead(spark, s"$dir/tail")
        val tagged =
          if (t.columns.contains("batch"))
            t.withColumn("__tail_batch", col("batch").cast("long"))
          else t.withColumn("__tail_batch", lit(-1L))
        flat.unionByName(
          tagged.select(flat.columns.toIndexedSeq.map(col): _*))
      }
    } else
      scanBaseOnly(spark, dir, layout, lit(true))
        .withColumn("__tail_batch", lit(-1L))
        .unionByName(scanTailTagged(spark, dir, layout))

  /** Heal a state directory after a crash mid-[[compact]] swap.
    * Idempotent; [[compact]] self-heals through it.
    *   - `.bak` present, `current` missing → crash between the renames:
    *     restore `.bak` → `current`.
    *   - `.bak` AND `current` present → crash after the swap, before
    *     cleanup: `current` is already the compacted state; drop `.bak`.
    *   - a dangling `.compacting` tmp dir is deleted either way.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    val bak = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + ".bak")
    val tmp = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + ".compacting")
    if (fs.exists(bak)) {
      if (!fs.exists(p)) {
        if (!fs.rename(bak, p))
          throw new java.io.IOException(s"could not restore $bak to $dir")
      } else fs.delete(bak, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    invalidateReads(dir)
  }

  /** Fold the tail into a fresh partitioned base (one file per live
    * sub-partition, tail emptied) and swap it in crash-safely. For a
    * legacy FLAT directory (no `base` subdir) compacts to
    * `ceil(rows / rowsPerFile)` flat files instead.
    * Call BETWEEN runs — the swap is crash-safe but not atomic against
    * a concurrent reader/writer. Refuses (via [[guardNotStreaming]]) if
    * a streaming query registered through an operator's `start` is still
    * active over `dir`.
    */
  def compact(spark: SparkSession, dir: String, layout: LsmLayout,
      rowsPerFile: Long = 8L * 1024 * 1024,
      resolve: Option[DataFrame => DataFrame] = None): Unit = {
    // claim the dir for the duration: refuses if a stream (pending or
    // live) owns it, AND makes a stream started mid-compaction fail fast
    // in registerPending instead of reading a half-swapped store. Still
    // best-effort against registry-bypassing writers (driver-JVM scope,
    // see the registry doc) — the between-runs contract remains the rule.
    val claim = registerPending(dir, "compaction in progress")
    try {
      recover(spark, dir)
      val tmp = dir.stripSuffix("/") + ".compacting"
      // `resolve`: a latest-wins (or other conflict-resolution) hook —
      // receives the TAGGED snapshot (state cols + __tail_batch, base
      // rows −1) and must return the resolved state without the tag.
      // Without it the snapshot is the plain base ∪ tail union.
      def folded(): DataFrame = resolve match {
        case Some(f) =>
          val out = f(snapshotTagged(spark, dir, layout))
          require(!out.columns.contains("__tail_batch"),
            "compact resolve hook must drop the __tail_batch tag")
          out
        case None => snapshot(spark, dir, layout)
      }
      if (hasBase(spark, dir))
        writeBase(folded(), tmp, layout, rowsPerFile)
      else {
        // snapshot, NOT a plain read: a flat read silently ignores a stray
        // tail/ under a legacy store — compacting through it would delete
        // those rows permanently in the swap below
        val df = folded()
        val n = math.max(1L, math.min(Int.MaxValue.toLong,
          (df.count() + rowsPerFile - 1) / rowsPerFile)).toInt
        df.repartition(n).write.mode("overwrite").parquet(tmp)
      }
      val (fs, p) = fsOf(spark, dir)
      val t = new org.apache.hadoop.fs.Path(tmp)
      val bak = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + ".bak")
      if (!fs.rename(p, bak))
        throw new java.io.IOException(s"could not stage $dir to $bak for swap")
      if (!fs.rename(t, p))
        throw new java.io.IOException(
          s"compaction swap failed: live state preserved at $bak — " +
            s"recover($dir) restores it")
      fs.delete(bak, true)
      invalidateReads(dir)
    } finally claim.cancel()
  }
}
