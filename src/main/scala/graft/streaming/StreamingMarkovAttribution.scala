package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming Markov removal-effect attribution — the live counterpart of
 * the batch [[graft.operators.Events.markovAttribution]] (g20): as
 * events arrive, per-user journeys fold into cumulative transition
 * counts and every batch re-emits the full attribution report (per
 * channel: conversion-probability drop, share, attributed
 * conversions). The marketing-mix dashboard kept current at ingest
 * time. Drained report equals the batch g20 over everything streamed
 * (the e-series contract; e30 gates against the g20 oracle).
 *
 * The streaming subtlety is the NULL absorption: a journey is only
 * "abandoned" from the batch operator's perspective at data end, so
 * last-touch→NULL edges must never be persisted — they would be wrong
 * the moment the user acts again. State therefore splits:
 *
 *  - `users/`: ONE row per user, latest-wins (`__up = pmod(user, 32)`
 *    partitions, touched-prefix reads) — `(user, last_t, last_i,
 *    last_type, converted)`: the latest INGESTED (t, i) position (the
 *    e28 monotone-check anchor — it advances even past conversion),
 *    the user's current JOURNEY state (last pre-conversion touch;
 *    frozen once converted), and the absorption flag.
 *  - `counts/`: cumulative (from, to) counts of the DURABLE edges only
 *    — START→touch, touch→touch, touch→CONV, START→CONV — merged
 *    totals latest-batch-wins (the e28 recipe), vocabulary-bounded.
 *
 * The open-journey counts the NULL edges need are NOT stored at all:
 * by conservation, the number of journeys currently resting on channel
 * c equals inflow(c) − outflow(c) over the durable edge counts (every
 * journey that entered c either left by a durable edge or is still
 * there), so the emission derives them from the collected matrix.
 *
 * Journey semantics match g20 exactly: one journey per user, truncated
 * at the FIRST conversion ever (post-conversion events advance the
 * monotone anchor but never the journey); a conversion with no prior
 * touches contributes START→CONV.
 *
 * CHECKED monotone-ingest contract (the e28/e22 convention): within a
 * user, every batch event must come STRICTLY after the persisted
 * (last_t, last_i) — out-of-order delivery would stitch the wrong
 * boundary transition; it throws with the offending count instead.
 *
 * 100 TB posture: per batch the work is O(batch + touched user rows +
 * channel vocab); the fixed point runs driver-side on the ≤
 * (channels+3)² literal matrix through the SHARED
 * [[graft.operators.Events.markovFromCounts]] quantized arithmetic.
 */
object StreamingMarkovAttribution {

  private val START = "__START__"
  private val CONV = "__CONV__"
  private val NULLS = "__NULL__"

  private val userLayout = LsmLayout(Seq("__up"), Seq("__up"),
    _.withColumn("__up", pmod(col("user"), lit(32)).cast("int")))

  private val countLayout = LsmLayout(Seq("__fp"), Seq("__fp"),
    _.withColumn("__fp", pmod(hash(col("from_type")), lit(16)).cast("int")))

  private def usersDir(stateDir: String) = s"$stateDir/users"
  private def countsDir(stateDir: String) = s"$stateDir/counts"

  private def ensureStores(spark: SparkSession, stateDir: String): Unit = {
    if (!LsmParquetState.exists(spark, usersDir(stateDir))) {
      val empty = spark.range(0).select(col("id").as("user"),
        col("id").as("last_t"), col("id").as("last_i"),
        col("id").cast("string").as("last_type"),
        (col("id") > 0).as("converted"))
      LsmParquetState.seed(empty, usersDir(stateDir), userLayout)
    }
    if (!LsmParquetState.exists(spark, countsDir(stateDir))) {
      val empty = spark.range(0).select(
        col("id").cast("string").as("from_type"),
        col("id").cast("string").as("to_type"), col("id").as("n"))
      LsmParquetState.seed(empty, countsDir(stateDir), countLayout)
    }
  }

  private def currentUsers(s: SparkSession, stateDir: String,
      prefixes: Seq[Int], excludeTailBatch: Option[Long]): DataFrame = {
    val pred =
      if (prefixes.isEmpty) lit(true) else col("__up").isin(prefixes: _*)
    val base = LsmParquetState.scanBaseOnly(s, usersDir(stateDir),
      userLayout, pred)
    val tail = LsmParquetState.scanTailTagged(s, usersDir(stateDir),
      userLayout, excludeTailBatch)
    val latest = tail.groupBy("user")
      .agg(max_by(struct(col("last_t"), col("last_i"), col("last_type"),
        col("converted")), col("__tail_batch")).as("__v"))
      .select(col("user"), col("__v.last_t").as("last_t"),
        col("__v.last_i").as("last_i"),
        col("__v.last_type").as("last_type"),
        col("__v.converted").as("converted"))
    base.join(latest.select("user"), Seq("user"), "left_anti")
      .unionByName(latest)
  }

  private def currentCounts(s: SparkSession, stateDir: String,
      excludeTailBatch: Option[Long]): DataFrame = {
    val base = LsmParquetState.scanBaseOnly(s, countsDir(stateDir),
      countLayout, lit(true))
    val tail = LsmParquetState.scanTailTagged(s, countsDir(stateDir),
      countLayout, excludeTailBatch)
    val latest = tail.groupBy("from_type", "to_type")
      .agg(max_by(col("n"), col("__tail_batch")).as("n"))
    base.join(latest.select("from_type", "to_type"),
        Seq("from_type", "to_type"), "left_anti")
      .unionByName(latest)
  }

  /** Drained report: the latest batch's emission (each batch reports
    * over the cumulative journeys, so the last one IS the batch g20
    * over everything streamed).
    */
  def report(spark: SparkSession, reportDir: String): DataFrame = {
    val all = spark.read.parquet(reportDir)
    all.join(all.agg(max(col("batch").cast("long")).as("batch")), "batch")
      .drop("batch")
  }

  def start(spark: SparkSession, source: DataFrame, userCol: String,
      typeCol: String, tsCol: String, tieCol: String,
      conversionType: String, touchTypes: Seq[String], stateDir: String,
      reportDir: String, checkpointDir: String,
      iterations: Int = 60): StreamingQuery = {
    ensureStores(spark, stateDir)
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(usersDir(stateDir), countsDir(stateDir))) {
      (batch, batchId) =>
        processBatch(batch, batchId, userCol, typeCol, tsCol, tieCol,
          conversionType, touchTypes, stateDir, reportDir, iterations)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      userCol: String, typeCol: String, tsCol: String, tieCol: String,
      conversionType: String, touchTypes: Seq[String], stateDir: String,
      reportDir: String, iterations: Int = 60): Unit = {
    val s = batch.sparkSession
    ensureStores(s, stateDir)
    // the post-merge durable matrix, observed off the count append; an
    // empty batch leaves it None and the emission falls back to a state
    // read
    var collectedMatrix: Option[Map[(String, String), Long]] = None
    val (ev, prefixes) = EagerBatch.withIntSet(batch
      .filter(col(typeCol).isin((touchTypes :+ conversionType): _*))
      .select(col(userCol).cast("long").as("user"),
        col(typeCol).cast("string").as("et"),
        col(tsCol).cast("long").as("t"), col(tieCol).cast("long").as("i")),
      pmod(col("user"), lit(32)).cast("int"))
    if (prefixes.nonEmpty) {
      val prior = currentUsers(s, stateDir, prefixes, Some(batchId))
        .join(ev.select("user").distinct(), Seq("user"), "left_semi")
        .localCheckpoint(eager = true)
      // journey rows: events of users NOT yet converted, truncated at
      // the user's first in-batch conversion (the row itself included —
      // it becomes the CONV edge); everything later this batch only
      // advances the monotone anchor. The CHECKED monotone contract
      // rides cmin's materialization below as an observed sum over the
      // joined rows (the metrics node sits under cmin's filters, so
      // every event flows through it) — formerly its own count job.
      val obs = Observation("e30_bad_" + java.util.UUID.randomUUID())
      val joined = ev.join(
        prior.select(col("user"), col("last_type").as("__plt"),
          col("converted").as("__pc"),
          col("last_t").as("__pt"), col("last_i").as("__pi")),
        Seq("user"), "left_outer")
        .observe(obs, sum(when(struct(col("t"), col("i")) <=
          struct(col("__pt"), col("__pi")), 1L).otherwise(0L)).as("__bad"))
        .drop("__pt", "__pi")
      val live = joined.filter(!coalesce(col("__pc"), lit(false)))
      // cmin/lastTouch are per-user skinny frames consumed by THREE
      // and TWO downstream plans respectively — left lazy, the journey
      // window and its joins recompute per consumer
      val cmin = live.filter(col("et") === conversionType)
        .groupBy("user").agg(min(struct(col("t"), col("i"))).as("__ck"))
        .localCheckpoint(eager = true)
      val bad = obs.get("__bad") match {
        case null => 0L
        case n => n.asInstanceOf[Long]
      }
      if (bad > 0)
        throw new IllegalStateException(
          s"monotone-ingest contract violated: $bad event(s) at or before " +
            "their key's persisted (last_t, last_i) — journey boundaries " +
            "would corrupt")
      val jrows = live.join(cmin, Seq("user"), "left_outer")
        .filter(col("__ck").isNull ||
          struct(col("t"), col("i")) <= col("__ck"))
      val w = Window.partitionBy(col("user")).orderBy(col("t"), col("i"))
      val edges = jrows
        .withColumn("__from",
          coalesce(lag(col("et"), 1).over(w), col("__plt"), lit(START)))
        .select(col("__from").as("from_type"),
          when(col("et") === conversionType, CONV).otherwise(col("et"))
            .as("to_type"))
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("__bn"))
      // durable-edge merge (the e28 cumulative latest-wins recipe). The
      // merge appends the FULL post-merge matrix (vocab-bounded —
      // ≤ (channels+3)² rows — so the latest tail partition IS the
      // cumulative state), and the emission's matrix rides the append
      // write as an observed collect_list instead of a separate
      // read-back-and-collect job over base ∪ tail.
      val stored = currentCounts(s, stateDir, Some(batchId))
        .select(col("from_type"), col("to_type"), col("n").as("__on"))
      val merged = edges.join(stored, Seq("from_type", "to_type"),
          "full_outer")
        .select(col("from_type"), col("to_type"),
          (coalesce(col("__bn"), lit(0L)) + coalesce(col("__on"), lit(0L)))
            .as("n"))
      val obsM = Observation("e30_matrix_" + java.util.UUID.randomUUID())
      LsmParquetState.appendTail(
        merged.observe(obsM, collect_list(struct(col("from_type"),
          col("to_type"), col("n"))).as("__m")),
        countsDir(stateDir), Some(batchId))
      collectedMatrix = Some(obsM.get("__m")
        .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
      // user-state update: monotone anchor always advances; the journey
      // channel freezes at conversion
      val lastTouch = jrows.filter(col("et") =!= conversionType)
        .groupBy("user")
        .agg(max_by(col("et"), struct(col("t"), col("i"))).as("__lt"))
      val anchor = ev.groupBy("user")
        .agg(max(struct(col("t"), col("i"))).as("__mk"))
      val nextUsers = anchor
        .join(prior.select(col("user"), col("last_type").as("__plt"),
          col("converted").as("__pc")), Seq("user"), "left_outer")
        .join(lastTouch, Seq("user"), "left_outer")
        .join(cmin.select(col("user"), lit(true).as("__cv")),
          Seq("user"), "left_outer")
        .select(col("user"), col("__mk.t").as("last_t"),
          col("__mk.i").as("last_i"),
          when(coalesce(col("__pc"), lit(false)), col("__plt"))
            .otherwise(coalesce(col("__lt"), col("__plt"), lit(START)))
            .as("last_type"),
          (coalesce(col("__pc"), lit(false)) || col("__cv").isNotNull)
            .as("converted"))
      LsmParquetState.appendTail(nextUsers, usersDir(stateDir),
        Some(batchId))
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(cmin)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(prior)
    }
    // emission: durable edges + NULL edges derived by conservation
    // (open-at-c = inflow − outflow), through the SHARED quantized
    // fixed point. The matrix is already on the driver when the count
    // append returned (observed collect_list over the full post-merge
    // matrix — identical to re-reading base ∪ tail, which resolves to
    // exactly the latest full append); only an empty batch still reads.
    val durable = collectedMatrix.getOrElse(
      currentCounts(s, stateDir, None).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
    val open = touchTypes.flatMap { c =>
      val in = durable.collect { case ((_, t), n) if t == c => n }.sum
      val out = durable.collect { case ((f, _), n) if f == c => n }.sum
      if (in - out > 0) Some((c, NULLS) -> (in - out)) else None
    }.toMap
    val nConv = durable.collect { case ((_, CONV), n) => n }.sum
    graft.operators.Events.markovFromCounts(s, durable ++ open, nConv,
        touchTypes, iterations)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ev)
  }

  /** Fold both tails into fresh bases. Call BETWEEN runs. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    LsmParquetState.compact(spark, usersDir(stateDir), userLayout,
      resolve = Some(df => df.groupBy("user")
        .agg(max_by(struct(col("last_t"), col("last_i"), col("last_type"),
          col("converted")), col("__tail_batch")).as("__v"))
        .select(col("user"), col("__v.last_t").as("last_t"),
          col("__v.last_i").as("last_i"),
          col("__v.last_type").as("last_type"),
          col("__v.converted").as("converted"))))
    LsmParquetState.compact(spark, countsDir(stateDir), countLayout,
      resolve = Some(df => df.groupBy("from_type", "to_type")
        .agg(max_by(col("n"), col("__tail_batch")).as("n"))))
  }
}
