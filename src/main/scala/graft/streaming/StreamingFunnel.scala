package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming conversion funnel — the ingest-time form of
 * [[graft.operators.Events.funnel]]: as (user, event_type, ts) events
 * arrive, each user's earliest-completion chain through the configured
 * stages folds forward in a persisted per-user state store, so the
 * drained report always equals the batch funnel over everything
 * streamed.
 *
 * Why the fold is EXTENSION-ONLY (and therefore O(touched users) per
 * batch with k-value state): under the time-ordered-batches contract —
 * every event in batch `b+1` has `ts` >= every event in batches
 * `<= b`, the event-log ingest norm, CHECKED per batch against a
 * persisted watermark — a later batch can never lower an established
 * chain time `t_i` (its events' timestamps are >= the stored maximum,
 * hence >= `t_i`) and can never enable an alternative earlier chain.
 * New events only append stages to incomplete chains. A batch that
 * violates the contract fails fast instead of silently diverging from
 * the batch funnel.
 *
 * State: one [[LsmParquetState]] store of `(user, t_<stage1> ...
 * t_<stageK>)` rows — USER-scale, base partitioned by
 * `__up = pmod(hash(user), 64)` so a batch reads only its touched
 * users' prefix partitions; per batch it appends ONLY the changed
 * users' rows as a batch-keyed tail (latest-batch-wins overrides,
 * replay-idempotent, the entity-resolution map recipe). Users never
 * entering stage 1 hold no state row.
 */
object StreamingFunnel {

  val userPrefixes: Int = 64

  private def markerDirFor(stateDir: String): String =
    stateDir.stripSuffix("/") + ".watermark"

  private def layout(userCol: String) = LsmLayout(Seq("__up"), Seq("__up"),
    _.withColumn("__up",
      pmod(hash(col(userCol)), lit(userPrefixes)).cast("int")))

  private def tCols(stages: Seq[String]): Seq[String] =
    stages.map(st => s"t_$st")

  /** The drained funnel report: `(user, t_<stage...>, stage)` — the
    * [[graft.operators.Events.funnel]] schema over everything streamed.
    */
  def report(spark: SparkSession, stateDir: String, userCol: String,
      stages: Seq[String]): DataFrame = {
    val ts = tCols(stages)
    val stageN = ts.tail.foldLeft(lit(1)) {
      (n, c) => n + when(col(c).isNotNull, 1).otherwise(0)
    }
    currentState(spark, stateDir, userCol, stages, None)
      .select((col(userCol) +: ts.map(col)) :+ stageN.as("stage"): _*)
  }

  /** Fold the state tail into a fresh base and the watermark history to
    * its latest value. Call BETWEEN runs.
    */
  def compactState(spark: SparkSession, stateDir: String, userCol: String,
      stages: Seq[String]): Unit = {
    val ts = tCols(stages)
    LsmParquetState.compact(spark, stateDir, layout(userCol),
      resolve = Some(tagged => tagged.groupBy(userCol)
        .agg(max_by(struct(ts.map(col): _*), col("__tail_batch")).as("__s"))
        .select(col(userCol) +: ts.map(c => col(s"__s.$c").as(c)): _*)))
    BatchMarker.compact(spark, markerDirFor(stateDir))
  }

  /** Current per-user chain state, latest-batch-wins (the
    * entity-resolution map read shape: small tail resolves per user,
    * base anti-joins the override keys map-side, no base shuffle).
    */
  private def currentState(s: SparkSession, stateDir: String,
      userCol: String, stages: Seq[String],
      excludeTailBatch: Option[Long]): DataFrame = {
    val ts = tCols(stages)
    val base = LsmParquetState.scanBaseOnly(s, stateDir, layout(userCol),
      lit(true))
    val tail = LsmParquetState.scanTailTagged(s, stateDir, layout(userCol),
      excludeTailBatch)
    val latest = tail.groupBy(userCol)
      .agg(max_by(struct(ts.map(col): _*), col("__tail_batch")).as("__s"))
      .select(col(userCol) +: ts.map(c => col(s"__s.$c").as(c)): _*)
    base.join(latest.select(userCol), Seq(userCol), "left_anti")
      .unionByName(latest)
  }

  def start(source: DataFrame,
      userCol: String, typeCol: String, tsCol: String,
      stages: Seq[String], stateDir: String,
      checkpointDir: String): StreamingQuery = {
    require(stages.size >= 2 && stages.distinct.size == stages.size,
      s"need >= 2 distinct stages, got $stages")
    LsmParquetState.startOwning(source, checkpointDir, Seq(stateDir)) {
      (batch, batchId) =>
        processBatch(batch, batchId, userCol, typeCol, tsCol, stages,
          stateDir)
    }
  }

  /** One micro-batch — split out so the replay spec can drive it with a
    * pinned `batchId` through the exact production path.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      userCol: String, typeCol: String, tsCol: String,
      stages: Seq[String], stateDir: String): Unit = {
    val s = batch.sparkSession
    val ts = tCols(stages)
    val lay = layout(userCol)
    // one observed checkpoint carries the watermark bounds AND the
    // touched-prefix set (formerly two separate probe jobs over the lazy
    // batch frame); the per-stage extension loop reads the checkpoint
    // instead of re-scanning the micro-batch source per stage
    val (ev, evm) = EagerBatch.withMetrics(
      batch.select(col(userCol), col(typeCol).as("__type"),
        col(tsCol).cast("long").as("__ts")),
      Seq(min(col("__ts")).as("__mn"), max(col("__ts")).as("__mx"),
        collect_set(pmod(hash(col(userCol)), lit(userPrefixes)).cast("int"))
          .as("__set")))
    if (!LsmParquetState.hasBase(s, stateDir)) {
      val empty = ev.select(col(userCol) +:
        ts.map(c => col("__ts").as(c)): _*).limit(0)
      LsmParquetState.seed(empty, stateDir, lay)
    }
    // time-ordered-batches contract: this batch's min event time must
    // not precede the stored watermark (see class doc — the fold's
    // extension-only argument rests on it)
    val exclude = Some(batchId)
    if (evm("__mn") != null) {
      val (bmin, bmax) =
        (evm("__mn").asInstanceOf[Long], evm("__mx").asInstanceOf[Long])
      val prev = BatchMarker.readLatest(s, markerDirFor(stateDir), batchId)
      prev.foreach { wm =>
        if (bmin < wm) throw new IllegalStateException(
          s"time-ordered-batches contract violated: batch $batchId event " +
            s"time $bmin precedes the stored watermark $wm — a late event " +
            "could restructure established chains and the drained report " +
            "would silently diverge from the batch funnel")
      }
      BatchMarker.write(s, markerDirFor(stateDir), batchId,
        math.max(bmax, prev.getOrElse(bmax)))
    }
    val users = ev.select(userCol).distinct()
    // touched users' state only: bounded observed set → PartitionFilter
    val touched = EagerBatch.intSet(evm, "__set")
    val pred =
      if (touched.isEmpty) lit(false)
      else col("__up").isin(touched.toSeq: _*)
    val stateAll = {
      val base = LsmParquetState.scanBaseOnly(s, stateDir, lay, pred)
      val tail = LsmParquetState.scanTailTagged(s, stateDir, lay, exclude)
      val latest = tail.groupBy(userCol)
        .agg(max_by(struct(ts.map(col): _*), col("__tail_batch")).as("__s"))
        .select(col(userCol) +: ts.map(c => col(s"__s.$c").as(c)): _*)
      base.join(latest.select(userCol), Seq(userCol), "left_anti")
        .unionByName(latest)
    }
    val state = users.join(stateAll, Seq(userCol), "left")
    // k-step extension: each stage's candidate is the batch's min
    // matching event strictly after the (possibly just-established)
    // previous chain time; established times never move
    var acc = state
    for (i <- stages.indices) {
      val gate =
        if (i == 0) lit(true)
        else col(ts(i - 1)).isNotNull && col("__ts") > col(ts(i - 1))
      val cand = ev.filter(col("__type") === stages(i))
        .join(acc.select((userCol +: ts.take(i)).map(col): _*), Seq(userCol))
        .filter(gate)
        .groupBy(userCol).agg(min(col("__ts")).as("__cand"))
      acc = acc.join(cand, Seq(userCol), "left")
        .withColumn(ts(i), coalesce(col(ts(i)), col("__cand")))
        .drop("__cand")
    }
    // delta = users whose chain changed (or first appeared with a
    // stage-1 time) — null-safe struct compare against the pre-batch
    // state; rows with no stage-1 time hold no state
    val changed = acc
      .join(stateAll.select(col(userCol) +:
        ts.map(c => col(c).as(s"__o_$c")): _*), Seq(userCol), "left")
      .filter(col(ts.head).isNotNull &&
        !ts.map(c => col(c) <=> col(s"__o_$c")).reduce(_ && _))
      .select((col(userCol) +: ts.map(col)): _*)
    LsmParquetState.appendTail(changed, stateDir, Some(batchId))
  }
}
