package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming Markov transition entropy — the live counterpart of the
 * batch [[graft.operators.Events.transitionEntropy]] (g18): as events
 * arrive, per-user transition pairs fold into a cumulative
 * (from, to) count state and every batch re-emits each state's Shannon
 * entropy. The flow-predictability watchdog at ingest time: a state
 * whose entropy collapses mid-stream means traffic just went scripted
 * (one dominant next-step — a bot flow); rising entropy means the mix
 * is organic. Drained report equals the batch g18 over the full
 * history (the e-series contract; e28 gates against the g18 oracle).
 *
 * State, two [[LsmParquetState]] stores:
 *  - `users/`: ONE row per user — `(user, last_t, last_i, last_type)`,
 *    the key's latest event under the (ts, event_id) order; it seeds
 *    the next batch's BOUNDARY transition (the e22 `last_t` recipe,
 *    extended with the tie-breaker and the type). Latest-batch-wins,
 *    `__up = pmod(user, 32)` partitions, touched-prefix reads.
 *  - `counts/`: the (from, to) transition counts — ADDITIVE merges via
 *    the e25 exclude-own-tail recipe, `__fp = pmod(hash(from), 16)`
 *    partitions. State is EVENT-TYPE-VOCABULARY bounded (|types|²
 *    rows), so the per-batch emission scan is O(vocab), never O(rows).
 *
 * CHECKED monotone-ingest contract (the e22 convention): within a user,
 * every batch event must come STRICTLY after the persisted
 * (last_t, last_i) — an out-of-order or duplicate delivery would pair
 * the wrong adjacent events and corrupt counts forever; it throws with
 * the offending count instead.
 *
 * 100 TB posture: per batch the work is O(batch + touched user rows +
 * vocab) — prefix-PartitionFilter reads on both stores, ONE per-user
 * lag window over the BATCH only (the boundary needs just the state
 * row), one additive count merge, one vocab-bounded entropy fold
 * through the SHARED batch code.
 */
object StreamingTransitionEntropy {

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
        col("id").cast("string").as("last_type"))
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
      .agg(max_by(struct(col("last_t"), col("last_i"), col("last_type")),
        col("__tail_batch")).as("__v"))
      .select(col("user"), col("__v.last_t").as("last_t"),
        col("__v.last_i").as("last_i"), col("__v.last_type").as("last_type"))
    base.join(latest.select("user"), Seq("user"), "left_anti")
      .unionByName(latest)
  }

  private def currentCounts(s: SparkSession, stateDir: String,
      basePred: org.apache.spark.sql.Column,
      excludeTailBatch: Option[Long]): DataFrame = {
    val base = LsmParquetState.scanBaseOnly(s, countsDir(stateDir),
      countLayout, basePred)
    val tail = LsmParquetState.scanTailTagged(s, countsDir(stateDir),
      countLayout, excludeTailBatch)
    val latest = tail.groupBy("from_type", "to_type")
      .agg(max_by(col("n"), col("__tail_batch")).as("n"))
    base.join(latest.select("from_type", "to_type"),
        Seq("from_type", "to_type"), "left_anti")
      .unionByName(latest)
  }

  /** Drained report: the latest batch's emission (each batch reports
    * over the cumulative counts, so the last one IS the batch g18 over
    * everything streamed).
    */
  def report(spark: SparkSession, reportDir: String): DataFrame = {
    val all = spark.read.parquet(reportDir)
    all.join(all.agg(max(col("batch").cast("long")).as("batch")), "batch")
      .drop("batch")
  }

  def start(spark: SparkSession, source: DataFrame, keyCol: String,
      typeCol: String, tsCol: String, tieCol: String, stateDir: String,
      reportDir: String, checkpointDir: String): StreamingQuery = {
    ensureStores(spark, stateDir)
    LsmParquetState.startOwning(source, checkpointDir,
        Seq(usersDir(stateDir), countsDir(stateDir))) {
      (batch, batchId) =>
        processBatch(batch, batchId, keyCol, typeCol, tsCol, tieCol,
          stateDir, reportDir)
    }
  }

  /** One micro-batch — split out so the replay spec drives the exact
    * production path with a pinned `batchId`.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      keyCol: String, typeCol: String, tsCol: String, tieCol: String,
      stateDir: String, reportDir: String): Unit = {
    val s = batch.sparkSession
    ensureStores(s, stateDir)
    // the post-merge cumulative matrix, observed off the count append;
    // when no merge append happens the emission falls back to a state
    // read
    var collectedMatrix: Option[Seq[(String, String, Long)]] = None
    val (ev, prefixes) = EagerBatch.withIntSet(
      batch.select(col(keyCol).cast("long").as("user"),
        col(typeCol).cast("string").as("et"),
        col(tsCol).cast("long").as("t"), col(tieCol).cast("long").as("i")),
      pmod(col("user"), lit(32)).cast("int"))
    if (prefixes.nonEmpty) {
      val prior = currentUsers(s, stateDir, prefixes, Some(batchId))
        .join(ev.select("user").distinct(), Seq("user"), "left_semi")
        .localCheckpoint(eager = true)
      // in-batch pairs from ONE per-key lag window; the key's first
      // batch row bridges to the persisted last_type instead. The
      // CHECKED monotone contract rides the pairs checkpoint as an
      // observed sum below the aggregation (every joined event flows
      // through the metrics node) — formerly its own count job.
      val obsBad = Observation("e28_bad_" + java.util.UUID.randomUUID())
      val w = Window.partitionBy(col("user")).orderBy(col("t"), col("i"))
      val (pairs, touchedF) = EagerBatch.withIntSet(ev
        .join(prior.select(col("user"), col("last_type"),
          col("last_t").as("__pt"), col("last_i").as("__pi")),
          Seq("user"), "left_outer")
        .observe(obsBad, sum(when(struct(col("t"), col("i")) <=
          struct(col("__pt"), col("__pi")), 1L).otherwise(0L)).as("__bad"))
        .withColumn("__from",
          coalesce(lag(col("et"), 1).over(w), col("last_type")))
        .filter(col("__from").isNotNull)
        .groupBy(col("__from").as("from_type"), col("et").as("to_type"))
        .agg(count(lit(1)).as("__bn")),
        pmod(hash(col("from_type")), lit(16)).cast("int"))
      val bad = obsBad.get("__bad") match {
        case null => 0L
        case n => n.asInstanceOf[Long]
      }
      if (bad > 0)
        throw new IllegalStateException(
          s"monotone-ingest contract violated: $bad event(s) at or before " +
            "their key's persisted (last_t, last_i) — transition counts " +
            "would corrupt")
      // cumulative count merge: the append carries the FULL post-merge
      // matrix (event-type-vocabulary-bounded, so the latest tail
      // partition IS the cumulative state) and the emission's matrix
      // rides the write as an observed collect_list instead of a
      // separate base ∪ tail read-back job.
      if (touchedF.nonEmpty) {
        val stored = currentCounts(s, stateDir, lit(true), Some(batchId))
          .select(col("from_type"), col("to_type"), col("n").as("__on"))
        val merged = pairs.join(stored, Seq("from_type", "to_type"),
            "full_outer")
          .select(col("from_type"), col("to_type"),
            (coalesce(col("__bn"), lit(0L)) + coalesce(col("__on"), lit(0L)))
              .as("n"))
        val obsM = Observation("e28_matrix_" + java.util.UUID.randomUUID())
        LsmParquetState.appendTail(
          merged.observe(obsM, collect_list(struct(col("from_type"),
            col("to_type"), col("n"))).as("__m")),
          countsDir(stateDir), Some(batchId))
        collectedMatrix = Some(obsM.get("__m")
          .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)
      }
      // user-state update: the batch's (t, i)-max event per key
      val nextUsers = ev.groupBy("user")
        .agg(max_by(struct(col("t"), col("i"), col("et")),
          struct(col("t"), col("i"))).as("__v"))
        .select(col("user"), col("__v.t").as("last_t"),
          col("__v.i").as("last_i"), col("__v.et").as("last_type"))
      LsmParquetState.appendTail(nextUsers, usersDir(stateDir),
        Some(batchId))
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pairs)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(prior)
    }
    // emission: the SHARED g18 fold over the cumulative vocab-bounded
    // counts — batch-keyed exactly-once. The matrix is already on the
    // driver when the count append returned (identical to re-reading
    // base ∪ tail, which resolves to exactly the latest full append);
    // a batch with no merge append still reads the state.
    val cum = collectedMatrix match {
      case Some(rows) =>
        // explicit nullable schema so the report parquet matches the
        // state-read path bit-for-bit (a toDF local relation would be
        // non-nullable and flip the drained schema)
        import org.apache.spark.sql.types._
        s.createDataFrame(
          java.util.Arrays.asList(rows.map(r =>
            org.apache.spark.sql.Row(r._1, r._2, r._3)): _*),
          StructType(Seq(StructField("from_type", StringType, nullable = true),
            StructField("to_type", StringType, nullable = true),
            StructField("n", LongType, nullable = true))))
      case None => currentCounts(s, stateDir, lit(true), None)
        .localCheckpoint(eager = true)
    }
    graft.operators.Events.transitionEntropy(cum, "from_type", "n")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    if (collectedMatrix.isEmpty)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(cum)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ev)
  }

  /** Fold both tails into fresh bases. Call BETWEEN runs (guarded). */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    LsmParquetState.compact(spark, usersDir(stateDir), userLayout,
      resolve = Some(df => df.groupBy("user")
        .agg(max_by(struct(col("last_t"), col("last_i"), col("last_type")),
          col("__tail_batch")).as("__v"))
        .select(col("user"), col("__v.last_t").as("last_t"),
          col("__v.last_i").as("last_i"),
          col("__v.last_type").as("last_type"))))
    LsmParquetState.compact(spark, countsDir(stateDir), countLayout,
      resolve = Some(df => df.groupBy("from_type", "to_type")
        .agg(max_by(col("n"), col("__tail_batch")).as("n"))))
  }
}
