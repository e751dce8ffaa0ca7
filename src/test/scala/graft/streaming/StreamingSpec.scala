package graft.streaming

import graft.SparkTestBase
import graft.model._
import graft.sources.Tables
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.{Failed, Outcome}

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** After each test no stream may still run: a query its drain did not
    * stop would keep writing into the shared session during later tests.
    * Leftovers are stopped, and the test that left them fails.
    */
  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    val left = spark.streams.active.toSeq
    left.foreach(_.stop())
    if (left.isEmpty || !outcome.isSucceeded) outcome
    else Failed(s"streams left running: ${left.map(_.id).mkString(", ")}")
  }

  test("streaming migration produces the same rows as the batch plan (O17)") {
    val dir = tempDir("stream")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)

    (1 to 100).map(i => (i.toLong, s"payload_$i", i % 7))
      .toDF("id", "payload", "bucket")
      .repartition(4) // several files => several micro-batches at 1 file/trigger
      .write.parquet(Tables.tablePath(srcRef, "stream_t"))

    val t = TableMigrationDef(
      tableName = "stream_t",
      filters = Seq(FieldValueFilter("row.bucket != 0")),
      calculatedColumns = Seq(CalculatedColumn("doubled", "row.id * 2")),
      simulateOnly = false)

    val q = StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = 1)
    StreamHarness.drain("stream", q)

    val got = Tables.load(spark, tgtRef, "stream_t")
    val batch = graft.pipeline.MigrationPlanner.plan(spark,
      cfg.copy(target = TableRef(path = s"$dir/none")), t).data
    assert(got.count() === batch.count())
    assert(got.select("id", "doubled").as[(Long, Long)].collect().toSet ===
      batch.select("id", "doubled").as[(Long, Long)].collect().toSet)
  }

  test("streaming bloom screen matches the batch screen and misses no exact hit") {
    val dir = tempDir("stream_bloom")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally unrelated words nothing shared here at all"),
      (4L, "alpha beta gamma delta epsilon eta theta"))
      .toDF("doc_id", "text")
    docs.repartition(2).write.parquet(s"$dir/in")
    val eval = Seq((100L, "alpha beta gamma delta epsilon"),
      (101L, "three four five six seven")).toDF("doc_id", "text")

    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    val q = StreamingDecontaminate.screen(stream, eval, "text",
        expectedGrams = 1000L)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/cp")
      .trigger(Trigger.AvailableNow()).start()
    StreamHarness.drain("stream_bloom", q)

    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id", "flagged").as[(Long, Boolean)].collect().toMap
    val exact = graft.operators.TextAnalysis
      .decontaminate(docs, eval, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(exact.forall(got(_)), "stream screen must never miss an exact hit")
    val batch = graft.operators.TextAnalysis
      .decontaminateBloom(docs, eval, "doc_id", "text", expectedGrams = 1000L)
      .select("doc_id", "flagged").as[(Long, Boolean)].collect().toMap
    assert(got === batch, "stream and batch screens must agree")
  }

  test("streaming counter mode: appended batch pre-aggregates sum to batch totals (O15/O17)") {
    val dir = tempDir("stream_ctr")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)

    (1 to 200).map(i => (s"tile_${i % 5}", i % 3, i.toLong))
      .toDF("tile_id", "day", "hits")
      .repartition(4)
      .write.parquet(Tables.tablePath(srcRef, "ctr_t"))

    val t = TableMigrationDef(
      tableName = "ctr_t",
      pkColumns = Seq("tile_id", "day"),
      counterColumns = Seq("hits"),
      writeMode = CounterIncrement,
      simulateOnly = false)

    val q = StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = 1)
    StreamHarness.drain("stream_ctr", q)

    // each micro-batch appended its per-PK partial sums; the counter value
    // is the read-time additive merge (sum per PK) - which must equal the
    // single-batch totals
    val got = Tables.load(spark, tgtRef, "ctr_t")
      .groupBy("tile_id", "day").sum("hits")
      .as[(String, Int, Long)].collect().toSet
    val expect = graft.pipeline.MigrationPlanner.plan(spark,
      cfg.copy(target = TableRef(path = s"$dir/none")), t).data
      .as[(String, Int, Long)].collect().toSet
    assert(got === expect)
  }

  test("streaming insert-if-not-exists sees earlier micro-batches (no dup PKs)") {
    val dir = tempDir("stream_ine")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)

    // two source files with overlapping PKs => two micro-batches at
    // 1 file/trigger; batch 2's overlap must anti-join against batch 1's
    // freshly-written rows, whatever order the file source picks
    val path = Tables.tablePath(srcRef, "ov_t")
    (1 to 10).map(i => (i.toLong, s"first_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(path)
    (5 to 15).map(i => (i.toLong, s"second_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(path)

    val t = TableMigrationDef(
      tableName = "ov_t",
      pkColumns = Seq("id"),
      writeMode = InsertIfNotExists,
      simulateOnly = false)

    val q = StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = 1)
    StreamHarness.drain("stream_ine", q)

    val got = Tables.load(spark, tgtRef, "ov_t")
    assert(got.count() === 15L, "each PK written exactly once")
    assert(got.select("id").distinct().count() === 15L)
  }

  test("streaming existence filter reads the target ONCE and keeps PK state " +
      "across batches (VERDICT r4 #2)") {
    val dir = tempDir("stream_state")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)

    // pre-existing target rows: PKs 1..5 must seed the keyed state
    (1 to 5).map(i => (i.toLong, s"existing_$i")).toDF("id", "payload")
      .write.parquet(Tables.tablePath(tgtRef, "pre_t"))
    // two source files (two micro-batches at 1 file/trigger) overlapping
    // the target AND each other
    val srcPath = Tables.tablePath(srcRef, "pre_t")
    (1 to 8).map(i => (i.toLong, s"first_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(srcPath)
    (6 to 12).map(i => (i.toLong, s"second_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(srcPath)

    val t = TableMigrationDef(
      tableName = "pre_t",
      pkColumns = Seq("id"),
      writeMode = InsertIfNotExists,
      simulateOnly = false)

    Tables.countLoads.set(true) // diagnostic counter is opt-in (off in prod)
    val before = Tables.loadCallCount(tgtRef, "pre_t")
    val q = StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = 1)
    StreamHarness.drain("stream_state", q)
    val targetLoads = Tables.loadCallCount(tgtRef, "pre_t") - before
    assert(targetLoads === 1L,
      s"target must be read once to seed state, not per batch (got $targetLoads)")
    assert(q.recentProgress.exists(_.stateOperators.nonEmpty),
      "existence filtering must run through a stateful streaming operator")

    val got = Tables.load(spark, tgtRef, "pre_t")
    assert(got.count() === 12L, "5 pre-existing + 7 first-seen rows, no dups")
    assert(got.select("id").distinct().count() === 12L)
    // target-seeded PKs kept their ORIGINAL payloads (stream rows dropped)
    assert(got.filter($"id" <= 5).select("payload").as[String].collect()
      .forall(_.startsWith("existing_")))
  }

  test("streaming existence filter tolerates duplicate PKs in the seed target") {
    // a user's target may hold duplicate PK rows; initial state must
    // dedup them or Spark rejects the seed with
    // "initial state contained multiple rows with the same key"
    val dir = tempDir("stream_dupseed")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)
    Seq((1L, "dup_a"), (1L, "dup_b"), (2L, "one"))
      .toDF("id", "payload").write.parquet(Tables.tablePath(tgtRef, "dup_t"))
    Seq((1L, "new_1"), (2L, "new_2"), (3L, "new_3"))
      .toDF("id", "payload").coalesce(1).write.mode("append")
      .parquet(Tables.tablePath(srcRef, "dup_t"))
    val t = TableMigrationDef("dup_t", pkColumns = Seq("id"),
      writeMode = InsertIfNotExists, simulateOnly = false)
    val q = StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow())
    StreamHarness.drain("stream_dupseed", q)
    val got = Tables.load(spark, tgtRef, "dup_t")
    assert(got.count() === 4L, "3 seeded rows (incl. the dup pair) + only id 3 added")
    assert(got.filter($"id" === 3L).count() === 1L)
  }

  test("streaming existence filter state survives a checkpointed restart") {
    val dir = tempDir("stream_restart")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)
    (1 to 3).map(i => (i.toLong, s"seed_$i")).toDF("id", "payload")
      .write.parquet(Tables.tablePath(tgtRef, "rs_t"))
    val srcPath = Tables.tablePath(srcRef, "rs_t")
    (1 to 6).map(i => (i.toLong, s"runA_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(srcPath)

    val t = TableMigrationDef("rs_t", pkColumns = Seq("id"),
      writeMode = InsertIfNotExists, simulateOnly = false)
    val q1 = StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow())
    StreamHarness.drain("stream_restart", q1)

    // new data lands while the stream is DOWN, overlapping run 1's writes;
    // the restarted query must resume the state store, NOT re-admit 4..6
    (4 to 9).map(i => (i.toLong, s"runB_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(srcPath)
    val q2 = StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow())
    StreamHarness.drain("stream_restart", q2)

    val got = Tables.load(spark, tgtRef, "rs_t")
    assert(got.count() === 9L, "3 seeded + 3 from run A + 3 from run B")
    assert(got.select("id").distinct().count() === 9L)
    assert(got.filter($"id" <= 3).select("payload").as[String].collect()
      .forall(_.startsWith("seed_")), "seeded rows must keep their payloads")
    assert(got.filter($"id" >= 4 && $"id" <= 6).select("payload").as[String]
      .collect().forall(_.startsWith("runA_")),
      "run B must not re-admit PKs already written by run A")
  }

  test("a terminated streaming migration releases its state-store providers") {
    val dir = tempDir("stream_release")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    (1 to 3).map(i => (i.toLong, s"seed_$i")).toDF("id", "payload")
      .write.parquet(Tables.tablePath(tgtRef, "rel_t"))
    (1 to 6).map(i => (i.toLong, s"new_$i")).toDF("id", "payload")
      .coalesce(1).write.parquet(Tables.tablePath(srcRef, "rel_t"))
    val q = StreamingMigration.start(spark, MigrationConfig(srcRef, tgtRef, Nil),
      TableMigrationDef("rel_t", pkColumns = Seq("id"), writeMode = InsertIfNotExists,
        simulateOnly = false),
      checkpointDir = s"$dir/cp", trigger = Trigger.ProcessingTime(0L))
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    try {
      q.processAllAvailable()
      assert(Bridge.loadedStateStores(q) === partitions, "one provider per state partition")
    } finally q.stop()
    org.apache.spark.graft.ListenerBus.drain(spark, 30000)
    assert(Bridge.loadedStateStores(q) === 0, "every provider released at termination")
    assert(Tables.load(spark, tgtRef, "rel_t").count() === 6L)
  }

  // Replay: each case drains its source, deletes the last commit, restarts
  // on the same checkpoint (Structured Streaming re-runs that batch, the
  // crash-after-write path) and expects exactly the undisturbed rows.
  private val replayCases = for {
    (mode, ctr) <- Seq((InsertIfNotExists, Nil), (Upsert, Nil),
      (CounterIncrement, Seq("hits")))
    (batches, replays) <- Seq((3, "the last of 3 batches"), (1, "batch 0"))
    if batches == 3 || mode == InsertIfNotExists
    populated <- Seq(false, true)
  } yield (mode, ctr, batches, replays, populated)

  replayCases.foreach { case (mode, ctr, batches, replays, populated) =>
    val target = if (populated) "a populated flat target" else "an absent target"
    test(s"streaming $mode replay of $replays into $target keeps the undisturbed rows") {
      val dir = tempDir("stream_replay")
      val srcRef = TableRef(path = s"$dir/src")
      val tgtRef = TableRef(path = s"$dir/tgt")
      val cfg = MigrationConfig(srcRef, tgtRef, Nil)
      if (populated) (1 to 3).map(i => (i.toLong, 1L)).toDF("id", "hits")
        .write.parquet(Tables.tablePath(tgtRef, "rp_t"))
      (0 until batches).foreach { b =>
        (4 * b + 1 to 4 * b + 4).map(i => (i.toLong, 1L)).toDF("id", "hits")
          .coalesce(1).write.mode("append").parquet(Tables.tablePath(srcRef, "rp_t"))
      }
      val t = TableMigrationDef("rp_t", pkColumns = Seq("id"), counterColumns = ctr,
        writeMode = mode, simulateOnly = false)
      def run(): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = StreamingMigration.start(spark, cfg, t, checkpointDir = s"$dir/cp",
          trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1)
        StreamHarness.drain("stream_replay", q)
        q
      }
      def rows() = Tables.load(spark, tgtRef, "rp_t").select("id", "hits")
        .as[(Long, Long)].collect().sorted.toSeq
      run()
      val undisturbed = rows()
      val replayed = replayLastBatch(s"$dir/cp")
      assert(replayed === batches - 1L)
      assert(run().recentProgress.exists(p => p.batchId == replayed && p.numInputRows > 0),
        s"the restart must re-run batch $replayed")
      assert(rows() === undisturbed)
      assert(new java.io.File(s"$dir/tgt").list().toSeq === Seq("rp_t.parquet"),
        "no stage dir may remain")
    }
  }

  test("a restart after a crash inside the first batch's stage write finds the target absent") {
    val dir = tempDir("stream_crash")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)
    Seq((1L, 1L)).toDF("id", "hits").write.parquet(Tables.tablePath(srcRef, "cr_t"))
    // what the crashed attempt left: a staged batch, no target
    val stage = Tables.tablePath(tgtRef, "cr_t") + "._graft_stage"
    Seq((1L, 1L)).toDF("id", "hits").write.parquet(s"$stage/crashed-b0")
    val t = TableMigrationDef("cr_t", pkColumns = Seq("id"), writeMode = InsertIfNotExists,
      simulateOnly = false)
    StreamHarness.drain("stream_crash", StreamingMigration.start(spark, cfg, t,
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow()))
    assert(Tables.load(spark, tgtRef, "cr_t").as[(Long, Long)].collect().toSeq === Seq((1L, 1L)))
    assert(!new java.io.File(stage).exists())
  }

  test("streaming into an absent target keeps partitionBy and adds no batch column") {
    val dir = tempDir("stream_parts")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt", options = Map("partitionBy" -> "bucket"))
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)
    (1 to 6).map(i => (i.toLong, i % 2)).toDF("id", "bucket").coalesce(1)
      .write.parquet(Tables.tablePath(srcRef, "pt_t"))
    val q = StreamingMigration.start(spark, cfg, TableMigrationDef("pt_t", simulateOnly = false),
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow())
    StreamHarness.drain("stream_parts", q)
    val entries = new java.io.File(Tables.tablePath(tgtRef, "pt_t")).list().toSet
    assert(entries === Set("bucket=0", "bucket=1"))
    val got = Tables.load(spark, tgtRef, "pt_t")
    assert(got.columns.toSet === Set("id", "bucket"))
    assert(got.as[(Long, Int)].collect().toSet === (1 to 6).map(i => (i.toLong, i % 2)).toSet)
  }

  test("a streaming run on a fresh checkpoint keeps an earlier run's rows in the target") {
    val dir = tempDir("stream_rerun")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)
    (1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "payload").coalesce(1)
      .write.parquet(Tables.tablePath(srcRef, "rr_t"))
    val t = TableMigrationDef("rr_t", simulateOnly = false)
    Seq("cp1", "cp2").foreach { cp =>
      StreamHarness.drain("stream_rerun", StreamingMigration.start(spark, cfg, t,
        checkpointDir = s"$dir/$cp", trigger = Trigger.AvailableNow()))
    }
    // both runs' batch 0 land side by side: the tag carries the query id
    assert(Tables.load(spark, tgtRef, "rr_t").count() === 8L)
  }

  test("streaming rejects a target holding the old per-batch dir layout") {
    val dir = tempDir("stream_oldlayout")
    val srcRef = TableRef(path = s"$dir/src")
    val tgtRef = TableRef(path = s"$dir/tgt")
    val cfg = MigrationConfig(srcRef, tgtRef, Nil)
    Seq((1L, "a")).toDF("id", "payload").write.parquet(Tables.tablePath(srcRef, "ol_t"))
    Seq((2L, "b")).toDF("id", "payload")
      .write.parquet(Tables.tablePath(tgtRef, "ol_t") + "/__graft_batch=0")
    val e = intercept[graft.pipeline.MigrationPlanner.PlanError] {
      StreamingMigration.start(spark, cfg, TableMigrationDef("ol_t", simulateOnly = false),
        checkpointDir = s"$dir/cp")
    }
    assert(e.getMessage.contains(Tables.tablePath(tgtRef, "ol_t")))
    assert(e.getMessage.contains("__graft_batch"))
  }

  test("streaming rejects patchNullsFromTarget (whole-table merge has no per-batch semantics)") {
    val dir = tempDir("stream_patch")
    val srcRef = TableRef(path = s"$dir/src")
    val cfg = MigrationConfig(srcRef, TableRef(path = s"$dir/tgt"), Nil)
    (1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .write.parquet(Tables.tablePath(srcRef, "p_t"))
    val t = TableMigrationDef("p_t", pkColumns = Seq("id"),
      patchNullsFromTarget = true, simulateOnly = false)
    val e = intercept[graft.pipeline.MigrationPlanner.PlanError] {
      StreamingMigration.start(spark, cfg, t, checkpointDir = s"$dir/cp")
    }
    assert(e.getMessage.contains("patchNullsFromTarget"))
  }

  test("streaming windowed agg with watermark matches the batch plan") {
    val dir = tempDir("swin")
    // deterministic event-time data across 3 hours, several files =>
    // several micro-batches; watermark tolerates the shuffled file order
    val rows = (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 3}%02d:${i % 60}%02d:00"),
        s"type_${i % 4}", (i % 10).toDouble)
    }
    rows.toDF("ts", "event_type", "value").repartition(4)
      .write.parquet(s"$dir/src/ev.parquet")
    val schema = spark.read.parquet(s"$dir/src/ev.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src/ev.parquet")
    val agg = StreamingWindowAgg.windowedAgg(stream, "ts", "event_type", "value")
    val q = agg.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("complete") // finite backfill: emit every window at the end
      .format("memory").queryName("swin")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    StreamHarness.drain("swin", q)
    val got = spark.table("swin")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val expect = StreamingWindowAgg.windowedAgg(
        spark.read.parquet(s"$dir/src/ev.parquet"), "ts", "event_type", "value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(got === expect)
    assert(got.size === 12) // 3 hours x 4 types
  }

  test("streaming session windows close at the watermark and match the batch plan") {
    val dir = tempDir("ssess")
    def ev(hour: Int, minute: Int, key: String, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00"), key, v)
    // per-key event-time-ordered FILES (append mode really drops
    // watermark-late rows, unlike the complete-mode tumbling test): hour-0
    // file, then hours 1-2, then a next-day flush that advances the
    // watermark past every real session's gap so append emits them all
    val f1 = Seq(ev(0, 0, "a", 1), ev(0, 10, "a", 2), ev(0, 45, "a", 4),
      ev(0, 5, "b", 8))
    val f2 = Seq(ev(1, 30, "a", 16), ev(1, 50, "a", 32), ev(2, 40, "b", 64))
    val flush = Seq((java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), "a", 0.0),
      (java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), "b", 0.0))
    val path = s"$dir/src/ev.parquet"
    f1.toDF("ts", "k", "value").coalesce(1).write.mode("append").parquet(path)
    Thread.sleep(1100) // file source orders batches by modification time
    f2.toDF("ts", "k", "value").coalesce(1).write.mode("append").parquet(path)
    Thread.sleep(1100)
    flush.toDF("ts", "k", "value").coalesce(1).write.mode("append").parquet(path)

    val schema = spark.read.parquet(path).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(path)
    val q = StreamingSessionAgg.sessionAgg(stream, "ts", "k", "value",
        gap = "30 minutes", lateness = "1 hour")
      .writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append") // sessions emit once, when the watermark closes them
      .format("memory").queryName("ssess")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    StreamHarness.drain("ssess", q)

    val cutoff = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val got = spark.table("ssess")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long, Double)]
      .collect().filter(_._1.before(cutoff)).toSet
    val expect = StreamingSessionAgg.sessionAgg(
        spark.read.parquet(path), "ts", "k", "value",
        gap = "30 minutes", lateness = "1 hour")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long, Double)]
      .collect().filter(_._1.before(cutoff)).toSet
    assert(got === expect)
    // a(00:00,00:10 merge; 00:45 is 5 min past the 00:40 session end, so a
    // NEW session), a(01:30,01:50 merge), b(00:05), b(02:40) => 5 sessions
    assert(got.size === 5, s"got $got")
    assert(got.exists(r => r._3 == "a" && r._4 === 2L && r._5 === 3.0),
      "the hour-0 'a' session must merge the two events inside the gap")
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    val dir = tempDir("mgws")
    // 4 files => 4 micro-batches; each key appears in several batches
    (0 until 200).map(i => (s"user_${i % 5}", i.toDouble))
      .toDF("user", "amount").repartition(4)
      .write.parquet(s"$dir/src/tx.parquet")
    val schema = spark.read.parquet(s"$dir/src/tx.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src/tx.parquet")
    val q = StreamingRunningTotals.startToMemory(spark, stream, "user", "amount",
      queryName = "totals", checkpointDir = s"$dir/cp")
    StreamHarness.drain("mgws", q)
    // update mode re-emits a key's totals each batch it appears in; the
    // LAST emission per key must equal the exact batch totals
    val last = spark.table("totals")
      .groupBy("key").agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct("count", "sum")).as("t"))
      .selectExpr("key", "t.count", "t.sum")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val expect = spark.read.parquet(s"$dir/src/tx.parquet")
      .groupBy("user").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("amount").as("s"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(last.keySet === expect.keySet)
    last.foreach { case (k, (c, s)) =>
      assert((c, math.round(s * 100)) ===
        (expect(k)._1, math.round(expect(k)._2 * 100)), s"key $k")
    }
  }

  test("streaming dedup holds state across micro-batches") {
    val dir = tempDir("sdedup")
    // 4 files, same 10 texts repeated in each => 40 rows, 10 distinct
    (0 until 40).map(i => (i.toLong, s"doc text number ${i % 10}"))
      .toDF("id", "text").repartition(4)
      .write.parquet(s"$dir/src/docs.parquet")
    val schema = spark.read.parquet(s"$dir/src/docs.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src/docs.parquet")
    val deduped = StreamingDedup.dedupByText(stream, "text")
    val q = deduped.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/cp")
      .format("parquet").option("path", s"$dir/out")
      .start()
    StreamHarness.drain("sdedup", q)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 10L) // duplicates across batches suppressed
  }

  test("stream-stream interval join matches the batch join on the same data") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("ssjoin")
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + min * 60000L)
    val imps = Seq((1L, ts(0), "i1"), (1L, ts(30), "i2"), (2L, ts(5), "i3"))
    val clicks = Seq((1L, ts(4), "c1"), (1L, ts(33), "c2"),
      (2L, ts(40), "c3"), (3L, ts(1), "c4"))
    imps.toDF("uid", "imp_ts", "imp_id")
      .coalesce(1).write.parquet(s"$dir/imp")
    clicks.toDF("uid", "click_ts", "click_id")
      .coalesce(1).write.parquet(s"$dir/click")
    def stream(path: String) = spark.readStream
      .schema(spark.read.parquet(path).schema).parquet(path)

    val joined = StreamingJoin.intervalJoin(
      stream(s"$dir/imp"), stream(s"$dir/click"),
      key = "uid", leftTs = "imp_ts", rightTs = "click_ts",
      after = "10 minutes")
    val q = joined.select("imp_id", "click_id").writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/cp")
      .format("parquet").option("path", s"$dir/out")
      .start()
    StreamHarness.drain("ssjoin", q)

    val got = spark.read.parquet(s"$dir/out")
      .as[(String, String)].collect().toSet
    // c1 4 min after i1, c2 3 min after i2; c3 is 35 min late, c4 has no imp
    assert(got === Set(("i1", "c1"), ("i2", "c2")))
    // equivalent batch join (qualified refs dodge the name ambiguity)
    val impB = spark.read.parquet(s"$dir/imp")
    val clickB = spark.read.parquet(s"$dir/click")
    val batchGot = impB.join(clickB,
        impB("uid") === clickB("uid") &&
          clickB("click_ts") >= impB("imp_ts") &&
          clickB("click_ts") <= impB("imp_ts") +
            org.apache.spark.sql.functions.expr("INTERVAL 10 minutes"))
      .select("imp_id", "click_id").as[(String, String)].collect().toSet
    assert(got === batchGot)
  }

  test("interval join refuses non-streaming inputs and ambiguous columns") {
    val b = Seq((1L, ts0, "x")).toDF("uid", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      StreamingJoin.intervalJoin(b, b, "uid", "ts", "ts")
    }
    assert(e.getMessage.contains("streaming"))
  }

  private lazy val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  test("streaming CDC apply: foreachBatch folds micro-batches into a versioned snapshot") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("scdc")
    // three change files; a stale update for key 1 (ver 20 < 30) lands in
    // a LATER file than the fresh one — the versioned merge must drop it
    // regardless of batch order
    val files = Seq(
      Seq((1L, "a2", 30L, "U"), (3L, "c", 20L, "U")),
      Seq((2L, "dead", 40L, "D"), (1L, "stale", 20L, "U")),
      Seq((3L, "c2", 50L, "U"), (4L, "d", 15L, "U")))
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "name", "ver", "op")
        .coalesce(1).write.parquet(s"$dir/ch/f$i.parquet")
      Thread.sleep(1100) // mtime ordering => deterministic batch order
    }
    val schema = spark.read.parquet(s"$dir/ch/f0.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ch/*")

    var snap = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "name", "ver")
    var batches = 0
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/cp")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val next = graft.operators.Cdc.applyCdcVersioned(
          snap, batch, Seq("k"), "ver", "op")
        // materialize: the batch frame is only valid inside this call
        snap = spark.createDataFrame(
          java.util.Arrays.asList(next.collect(): _*), next.schema)
        batches += 1
        ()
      }
      .start()
    StreamHarness.drain("scdc", q)

    assert(batches === 3, s"expected one micro-batch per file, got $batches")
    val got = snap.select("k", "name", "ver")
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "a2", 30L), (3L, "c2", 50L), (4L, "d", 15L)))
    // parity with the one-shot batch merge of the whole log
    val oneShot = graft.operators.Cdc.applyCdcVersioned(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "name", "ver"),
      files.flatten.toDF("k", "name", "ver", "op"), Seq("k"), "ver", "op")
      .as[(Long, String, Long)].collect().toSet
    assert(got === oneShot)
  }

  test("streaming near-dup with persistent index: drained pairs equal the batch truth") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_neardup")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about distributed query engines and shuffles"),
      (3L, "an unrelated short text about nothing in particular at all"))
      .toDF("doc_id", "text")
    StreamingNearDup.seedIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/docs")
    // two micro-batches (one file each): batch 1 near-dups doc 1; batch 2
    // near-dups doc 2 AND batch 1's doc 101 — the cross-batch pair only
    // exists because batch 1's index rows persisted
    val b1 = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"))
    val b2 = Seq(
      (102L, "completely different content about distributed query engines and exchanges"),
      (103L, "the quick brown fox jumps over the lazy dog again and again tonight!"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text"),
      b2.toDF("doc_id", "text"))
    val q = StreamingNearDup.start(spark, stream, "doc_id", "text",
      s"$dir/index", s"$dir/docs", s"$dir/pairs", s"$dir/cp",
      threshold = 0.5)
    StreamHarness.drain("stream_neardup", q)

    val streamed = spark.read.parquet(s"$dir/pairs")
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    // batch truth over everything, restricted to pairs with a streamed doc
    val streamedIds = (b1 ++ b2).map(_._1).toSet
    val everything = corpus.unionByName((b1 ++ b2).toDF("doc_id", "text"))
    val truth = graft.operators.Dedup.minhashNearDupPairs(
        everything, "doc_id", "text", threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect()
      .filter(p => streamedIds(p._1) || streamedIds(p._2)).toSet
    assert(streamed === truth)
    assert(streamed.contains((1L, 101L)))   // corpus <- batch 1
    assert(streamed.contains((2L, 102L)))   // corpus <- batch 2
    assert(streamed.contains((101L, 103L))) // batch 1 <- batch 2 (persisted state)
  }

  test("streaming winnow screen: cross-batch pairs through the persisted " +
      "fingerprint index, drained pairs equal batch winnowingPairs, a " +
      "replayed batch is a no-op") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_winnow")
    val base = "the zebra quilt jumps over seventeen lazy xylophones while " +
      "quietly plotting a grand escape from the dusty barn tonight"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about distributed query engines " +
        "and shuffle exchanges running somewhere else entirely"))
      .toDF("doc_id", "text")
    StreamingWinnow.seedIndex(corpus, "doc_id", "text", s"$dir/index",
      k = 8, window = 4)
    // batch 1 copies the seeded doc 1; batch 2 copies BATCH 1's doc 101 —
    // that pair only exists because batch 1's fingerprints persisted
    val b1 = Seq((101L, "PREFIX " + base))
    val b2 = Seq((102L, "PREFIX " + base + " SUFFIX"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text"),
      b2.toDF("doc_id", "text"))
    val q = StreamingWinnow.start(stream, "doc_id", "text",
      s"$dir/index", s"$dir/pairs", s"$dir/cp",
      k = 8, window = 4, minShared = 2)
    StreamHarness.drain("stream_winnow", q)

    def drained() = StreamingWinnow.pairs(spark, s"$dir/pairs")
      .as[(Long, Long, Long)].collect().toSet
    val streamed = drained()
    // batch truth over everything, restricted to pairs with a streamed doc
    val streamedIds = (b1 ++ b2).map(_._1).toSet
    val everything = corpus.unionByName((b1 ++ b2).toDF("doc_id", "text"))
    val truth = graft.operators.Dedup.winnowingPairs(
        everything, "doc_id", "text", k = 8, window = 4, minShared = 2)
      .as[(Long, Long, Long)].collect()
      .filter(p => streamedIds(p._1) || streamedIds(p._2)).toSet
    assert(streamed === truth)
    assert(streamed.exists(p => p._1 == 1L && p._2 == 101L),
      "corpus <- batch 1 pair missing")
    assert(streamed.exists(p => p._1 == 101L && p._2 == 102L),
      "batch 1 <- batch 2 pair missing (persisted state)")
    // replay the last in-flight batch through the exact production path:
    // output and state must be byte-identical (own-tail exclusion)
    val idxRows = LsmParquetState
      .snapshot(spark, s"$dir/index", LsmLayout(Seq("__fpp"), Seq("__fpp"),
        _.withColumn("__fpp", pmod(col("__fp"), lit(64L)).cast("int"))))
      .count()
    StreamingWinnow.processBatch(b2.toDF("doc_id", "text"), 1L,
      "doc_id", "text", s"$dir/index", s"$dir/pairs",
      k = 8, window = 4, minShared = 2, maxBucketSize = 1000)
    assert(drained() === streamed, "replay changed the drained pair set")
    assert(LsmParquetState
      .snapshot(spark, s"$dir/index", LsmLayout(Seq("__fpp"), Seq("__fpp"),
        _.withColumn("__fpp", pmod(col("__fp"), lit(64L)).cast("int"))))
      .count() === idxRows, "replay changed the index state")
  }

  test("streaming curation: gate, decon and cross-batch dedup survivors " +
      "match the contract (earliest batch, then min id, seed excluded)") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_curate")
    val seedText = "the seed corpus document that we already kept and curated"
    val evalText = "the held out evaluation prompt that must never leak into training"
    StreamingCuration.seedFingerprints(
      Seq((0L, seedText)).toDF("doc_id", "text"), "text", s"$dir/fp",
      partitionedBase = true)
    val evalDocs = Seq((900L, evalText)).toDF("doc_id", "text")
    // batch 1: A kept; B duplicates the SEED; E duplicates the EVAL text
    // (contaminated); F1/F2 duplicate each other (min id wins); N is not
    // English (gate drop)
    val b1 = Seq(
      (11L, "the first unique document about engines and the data we keep", "en"),
      (12L, seedText, "en"),
      (13L, evalText, "en"),
      (15L, "the shared duplicate text that appears twice in this batch", "en"),
      (14L, "the shared duplicate text that appears twice in this batch", "en"),
      (16L, "der hund und die katze sind nicht ein tier mit dem anderen", "de"),
      // null text: must not crash the touched-prefix collect on the
      // partitioned-base posture (it dies at the gate like any junk doc)
      (17L, null.asInstanceOf[String], "en"))
    // batch 2: C duplicates batch 1's A (cross-batch state drop); D kept
    val b2 = Seq(
      (21L, "the first unique document about engines and the data we keep", "en"),
      (22L, "the second unique document and the words it is made of", "en"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text", "lang"),
      b2.toDF("doc_id", "text", "lang"))
    // quality/repetition thresholds opened wide: this test pins the
    // language gate, the decon drop and the dedup ORDER contract — the
    // quality formula itself is oracle-gated by t02/c01/e05
    val q = StreamingCuration.start(stream, evalDocs,
      "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept", s"$dir/cp",
      minQuality = 0.0, maxDupBigramFrac = 1.0)
    StreamHarness.drain("stream_curate", q)
    val kept = spark.read.parquet(s"$dir/kept")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 14L, 22L),
      s"survivors off: $kept (expected A, min-id duplicate, D)")
    // the fingerprint index grew by exactly the three survivors' prints
    assert(StreamingCuration.fingerprintSnapshot(spark, s"$dir/fp")
      .distinct().count() === 4L)
    // the batch appends landed in the tail log, not as base fan-out;
    // compaction folds them into the 16-way partitioned base and the
    // screen state survives byte-identical
    assert(new java.io.File(s"$dir/fp/tail").exists(), "appends not in tail")
    val beforeCompact = StreamingCuration.fingerprintSnapshot(spark, s"$dir/fp")
      .as[String].collect().sorted.toSeq
    StreamingCuration.compactFingerprints(spark, s"$dir/fp")
    assert(!new java.io.File(s"$dir/fp/tail").exists(), "tail not folded")
    assert(parquetFiles(s"$dir/fp").forall(f =>
      f.getParentFile.getName.startsWith("__fpp=")),
      "compaction lost the partitioned fingerprint base")
    assert(StreamingCuration.fingerprintSnapshot(spark, s"$dir/fp")
      .as[String].collect().sorted.toSeq === beforeCompact,
      "compaction changed the fingerprint set")
  }

  private def parquetFiles(p: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(p))
  }

  test("compactState folds the tail log into the partitioned base, " +
      "row set identical, screen still correct afterwards") {
    val dir = tempDir("snd_compact")
    val corpus = (1L to 10L).map(i =>
      (i, s"corpus document number $i with some distinctive words here"))
      .toDF("doc_id", "text")
    StreamingNearDup.seedIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/docs", partitionedBase = Some(true))
    // simulate many tiny per-batch appends (the same tail log start() writes)
    (1 to 5).foreach { b =>
      val delta = Seq((100L + b,
        s"corpus document number $b with some distinctive words here too"))
        .toDF("doc_id", "text")
      StreamingNearDup.appendIndex(
        graft.operators.Dedup.lshBuckets(delta, "doc_id", "text")
          .coalesce(1), s"$dir/index")
      StreamingNearDup.appendDocs(delta.coalesce(1), s"$dir/docs")
    }
    def snapshot() = StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .select("doc_id", "__band", "__bandkey")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val before = snapshot()
    assert(parquetFiles(s"$dir/index/tail").size >= 5,
      "test setup: expected tail file buildup")
    val liveParts = StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .select($"__band",
        org.apache.spark.sql.functions.pmod($"__bandkey",
          org.apache.spark.sql.functions.lit(
            StreamingNearDup.bandkeyPrefixes.toLong)).cast("int"))
      .distinct().count()
    StreamingNearDup.compactState(spark, s"$dir/index")
    StreamingNearDup.compactDocsState(spark, s"$dir/docs", "doc_id")
    // docs tail folded into the __idp-partitioned base, rows intact
    assert(!new java.io.File(s"$dir/docs/tail").exists(), "docs tail not folded")
    assert(parquetFiles(s"$dir/docs").forall(f =>
      f.getParentFile.getName.startsWith("__idp=")),
      "docs compaction lost the __idp-partitioned layout")
    assert(StreamingNearDup.docsSnapshot(spark, s"$dir/docs", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq ===
      ((1L to 10L) ++ (101L to 105L)).sorted.toSeq,
      "docs compaction changed the doc row set")
    // tail folded: one file per live (__band, __bkp) sub-partition, no tail
    assert(parquetFiles(s"$dir/index").size === liveParts,
      "base not compacted to one file per sub-partition")
    assert(parquetFiles(s"$dir/index").forall(f =>
      f.getParentFile.getName.startsWith("__bkp=")),
      "compaction lost the partitioned base layout")
    assert(!new java.io.File(s"$dir/index/tail").exists(), "tail not folded")
    assert(!new java.io.File(s"$dir/index.bak").exists())
    assert(!new java.io.File(s"$dir/index.compacting").exists())
    assert(snapshot() === before, "compaction changed the index row set")
    // the compacted state still screens correctly
    val probe = Seq((999L,
      "corpus document number 3 with some distinctive words here too"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashNearDupPairsIncremental(
        StreamingNearDup.indexSnapshot(spark, s"$dir/index"),
        StreamingNearDup.docsSnapshot(spark, s"$dir/docs", "doc_id"),
        probe, "doc_id", "text", threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((103L, 999L)), s"probe missed its near-dup: $pairs")
  }

  test("prunedIndexScan: touched pairs land as PartitionFilters on the base, " +
      "untouched sub-partition files are never opened, tail always visible") {
    val dir = tempDir("snd_prune")
    val corpus = (1L to 50L).map(i =>
      (i, s"corpus document number $i with some quite distinctive words $i here"))
      .toDF("doc_id", "text")
    StreamingNearDup.seedIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/docs", partitionedBase = Some(true))
    // a one-doc delta touches exactly one (band, prefix) pair per band
    val delta = Seq((999L, "a probe document that shares nothing in particular"))
      .toDF("doc_id", "text")
    val pmodBkp = org.apache.spark.sql.functions.pmod($"__bandkey",
      org.apache.spark.sql.functions.lit(
        StreamingNearDup.bandkeyPrefixes.toLong)).cast("int")
    val touched = graft.operators.Dedup.lshBuckets(delta, "doc_id", "text")
      .select($"__band", pmodBkp.as("__bkp"))
      .distinct().as[(Int, Int)].collect()
    assert(touched.length === 16, "one (band, prefix) per band expected")
    val pruned = StreamingNearDup.prunedIndexScan(spark, s"$dir/index", touched)
    // the predicate must classify as a PARTITION filter (static pruning at
    // planning time), not a pushed row filter over every file
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = plan.substring(plan.indexOf("PartitionFilters: ["))
    assert(pf.substring(0, pf.indexOf("]")).contains("__bkp"),
      s"touched-pair predicate is not a partition filter:\n$plan")
    // rows: exactly the stored rows of touched sub-partitions
    val expect = StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .filter(touched.map { case (b, p) =>
        $"__band" === b && pmodBkp === p }.reduce(_ || _))
      .select("doc_id", "__band", "__bandkey")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val got = pruned.select("doc_id", "__band", "__bandkey")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(got === expect)
    assert(got.nonEmpty && got.size < 50 * 16,
      "pruned read returned the whole base — nothing was pruned")
    // an empty touched set reads no base rows
    assert(StreamingNearDup.prunedIndexScan(spark, s"$dir/index",
      Array.empty).count() === 0L)
    // tail rows are ALWAYS visible, whatever the touched set (the pruning
    // only applies to the compacted base)
    StreamingNearDup.appendIndex(
      graft.operators.Dedup.lshBuckets(delta, "doc_id", "text"), s"$dir/index")
    val tailOnly = StreamingNearDup.prunedIndexScan(spark, s"$dir/index",
      Array.empty)
    assert(tailOnly.select("doc_id").distinct().as[Long].collect().toSeq ===
      Seq(999L), "tail rows not visible through the pruned scan")
    // a legacy flat layout still reads fully
    corpus.limit(3).write.parquet(s"$dir/flat")
    assert(StreamingNearDup.prunedIndexScan(spark, s"$dir/flat",
      touched).count() === 3L)
  }

  test("near-dup replay idempotence: a replayed in-flight batch lands " +
      "exactly once — pairs, index and docs unchanged, including after a " +
      "crash that lost the state appends") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("snd_replay")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about distributed query engines and shuffles"),
      (3L, "an unrelated short text about nothing in particular at all"))
      .toDF("doc_id", "text")
    StreamingNearDup.seedIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/docs", partitionedBase = Some(true))
    val b1 = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"))
    val b2 = Seq(
      (102L, "completely different content about distributed query engines and exchanges"),
      (103L, "the quick brown fox jumps over the lazy dog again and again tonight!"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text"),
      b2.toDF("doc_id", "text"))
    val q = StreamingNearDup.start(spark, stream, "doc_id", "text",
      s"$dir/index", s"$dir/docs", s"$dir/pairs", s"$dir/cp",
      threshold = 0.5)
    StreamHarness.drain("snd_replay", q)
    // outputs are batch-keyed: each micro-batch owns its partition
    assert(new java.io.File(s"$dir/pairs/batch=0").exists() &&
      new java.io.File(s"$dir/pairs/batch=1").exists(),
      "pairs are not batch-keyed")
    def pairsRows() = spark.read.parquet(s"$dir/pairs")
      .select("idA", "idB").as[(Long, Long)].collect().sorted.toSeq
    def idxRows() = StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .select("doc_id", "__band", "__bandkey")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    def docRows() = StreamingNearDup
      .docsSnapshot(spark, s"$dir/docs", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val (p0, i0, d0) = (pairsRows(), idxRows(), docRows())
    assert(p0.distinct === p0, "duplicate pair rows in the drained output")
    assert(d0.distinct === d0, "duplicate doc rows in the drained state")
    // replay the in-flight batch (b2 ran as batch id 1) through the exact
    // production path — everything must come out row-identical
    def replay(): Unit = StreamingNearDup.processBatch(
      b2.toDF("doc_id", "text"), 1L, "doc_id", "text",
      s"$dir/index", s"$dir/docs", s"$dir/pairs",
      threshold = 0.5, shingleK = 5, bands = 16, rowsPerBand = 4,
      maxBucketSize = 1000, restrictToTouched = true)
    replay()
    assert(pairsRows() === p0, "replay changed the pair set")
    assert(idxRows() === i0, "replay changed the index state")
    assert(docRows() === d0, "replay changed the docs state")
    // crash shape: pairs landed but the state appends were lost — the
    // replay must rebuild exactly the same state and output
    def rm(p: String): Unit = {
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(walk)
        f.delete()
      }
      walk(new java.io.File(p))
    }
    rm(s"$dir/index/tail/batch=1")
    rm(s"$dir/docs/tail/batch=1")
    replay()
    assert(pairsRows() === p0, "post-crash replay changed the pair set")
    assert(idxRows() === i0, "post-crash replay changed the index state")
    assert(docRows() === d0, "post-crash replay changed the docs state")
  }

  test("streaming semantic screen: drained pairs equal the stored-before " +
      "cosine truth; a replayed in-flight batch lands exactly once") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sem_screen")
    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(8)(r.nextFloat() * 2f - 1f)
    }
    val corpus = (1L to 40L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    StreamingSemanticScreen.seed(corpus, "vec_id", "embedding",
      s"$dir/index", s"$dir/vecs", dim = 8,
      numCentroids = 4, m = 4, codesPerSub = 8,
      partitionedBase = Some(true))
    // batch 1: exact copies of corpus 3 and 7, one novel vector
    val b1 = Seq((103L, vec(3)), (107L, vec(7)), (900L, vec(900)))
    // batch 2: a copy of batch 1's novel vector (cross-batch pair) and
    // a copy of corpus 11
    val b2 = Seq((1900L, vec(900)), (111L, vec(11)))
    val stream = StreamHarness.feed(dir,
      b1.toDF("vec_id", "embedding"),
      b2.toDF("vec_id", "embedding"))
    val q = StreamingSemanticScreen.start(stream,
      "vec_id", "embedding", s"$dir/index", s"$dir/vecs", s"$dir/pairs",
      s"$dir/cp", threshold = 0.999)
    StreamHarness.drain("sem_screen", q)
    def pairsRows() = spark.read.parquet(s"$dir/pairs")
      .select("idA", "idB").as[(Long, Long)].collect().sorted.toSeq
    val p0 = pairsRows()
    assert(p0 === Seq((3L, 103L), (7L, 107L), (11L, 111L), (900L, 1900L)),
      s"drained pair set off: $p0")
    assert(new java.io.File(s"$dir/pairs/batch=0").exists() &&
      new java.io.File(s"$dir/pairs/batch=1").exists())
    def vecRows() = StreamingSemanticScreen
      .vecsSnapshot(spark, s"$dir/vecs", "vec_id")
      .select("vec_id").as[Long].collect().sorted.toSeq
    val v0 = vecRows()
    assert(v0.distinct === v0, "duplicate vectors in the drained state")
    // replay the in-flight batch (b2, id 1): with its own vectors already
    // stored, the scan must exclude them (and self-match is id-guarded)
    StreamingSemanticScreen.processBatch(
      b2.toDF("vec_id", "embedding"), 1L, "vec_id", "embedding",
      s"$dir/index", s"$dir/vecs", s"$dir/pairs",
      threshold = 0.999, k = 5, nprobe = 4, rerank = 32)
    assert(pairsRows() === p0, "replay changed the pair set")
    assert(vecRows() === v0, "replay changed the vector state")
  }

  test("curation replay idempotence (partitioned base): a replayed " +
      "in-flight batch keeps its own survivors and appends no duplicate " +
      "fingerprints") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sc_replay")
    val seedText = "the seed corpus document that we already kept and curated"
    StreamingCuration.seedFingerprints(
      Seq((0L, seedText)).toDF("doc_id", "text"), "text", s"$dir/fp",
      partitionedBase = true)
    val evalDocs = Seq((900L,
      "the held out evaluation prompt that must never leak into training"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (11L, "the first unique document about engines and the data we keep", "en"),
      (12L, seedText, "en"))
    val b2 = Seq(
      (21L, "the first unique document about engines and the data we keep", "en"),
      (22L, "the second unique document about layouts and the state we fold", "en"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text", "lang"),
      b2.toDF("doc_id", "text", "lang"))
    val q = StreamingCuration.start(stream, evalDocs,
      "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept", s"$dir/cp",
      minQuality = 0.0, maxDupBigramFrac = 1.0)
    StreamHarness.drain("sc_replay", q)
    def keptRows() = spark.read.parquet(s"$dir/kept")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def fpRows() = StreamingCuration.fingerprintSnapshot(spark, s"$dir/fp")
      .select("fp").as[String].collect().sorted.toSeq
    val (k0, f0) = (keptRows(), fpRows())
    assert(k0 === Seq(11L, 22L), s"drained survivors off: $k0")
    assert(f0.distinct === f0, "duplicate fingerprints in the drained state")
    // replay the in-flight batch (b2 ran as batch id 1): with its own
    // fingerprints already stored, the scan must EXCLUDE them or the
    // anti join deletes the batch's own survivors
    def replay(): Unit = StreamingCuration.processBatch(
      b2.toDF("doc_id", "text", "lang"), 1L, evalDocs,
      "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept",
      lang = "en", minQuality = 0.0, maxDupBigramFrac = 1.0,
      overlapN = 5, overlapThreshold = 0.5)
    replay()
    assert(keptRows() === k0, "replay changed the survivor set")
    assert(fpRows() === f0, "replay changed the fingerprint state")
    // crash shape: survivors landed but the fingerprint append was lost
    def rm(p: String): Unit = {
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(walk)
        f.delete()
      }
      walk(new java.io.File(p))
    }
    rm(s"$dir/fp/tail/batch=1")
    replay()
    assert(keptRows() === k0, "post-crash replay changed the survivor set")
    assert(fpRows() === f0, "post-crash replay changed the fingerprint state")
  }

  test("streaming CDC merge: drained merge-on-read snapshot equals batch " +
      "applyCdc under cross-batch key competition, deletes and ties") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("scdc")
    val seed = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    // batch 1 holds key 1's OLDER update and key 2's delete; batch 2 the
    // NEWER update for 1, a STALE (pre-delete) update for 2 — which must
    // NOT resurrect it — and an insert for a new key 4
    val b1 = Seq((1L, "u1", 11.0, 5L, 100L, "U"), (2L, "d", 0.0, 9L, 101L, "D"))
    val b2 = Seq((1L, "u2", 12.0, 7L, 102L, "U"), (2L, "stale", 99.0, 3L, 103L, "U"),
      (4L, "new", 40.0, 6L, 104L, "U"))
    val cols = Seq("k", "name", "bal", "ver", "eid", "op")
    StreamingCdcMerge.seedState(seed, s"$dir/state")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingCdcMerge.start(stream, Seq("k"), "ver", "op",
      s"$dir/state", s"$dir/cp", tieBreak = Seq("eid"))
    StreamHarness.drain("scdc", q)
    def snap() = StreamingCdcMerge.currentSnapshot(spark, s"$dir/state",
        Seq("k"), "ver", "op", tieBreak = Seq("eid"))
      .select("k", "name", "bal").as[(Long, String, Double)]
      .collect().sorted.toSeq
    val batchTruth = graft.operators.Cdc.applyCdc(seed,
        (b1 ++ b2).toDF(cols: _*), Seq("k"), "ver", "op",
        tieBreak = Seq("eid"))
      .select("k", "name", "bal").as[(Long, String, Double)]
      .collect().sorted.toSeq
    assert(snap() === batchTruth, "drained snapshot drifted from batch")
    assert(snap() === Seq((1L, "u2", 12.0), (3L, "c", 30.0),
      (4L, "new", 40.0)), s"merge semantics off: ${snap()}")
    // compaction: one winner row per key, TOMBSTONES RETAINED, snapshot
    // byte-identical before/after
    StreamingCdcMerge.compactState(spark, s"$dir/state", Seq("k"), "ver",
      tieBreak = Seq("eid"))
    assert(!new java.io.File(s"$dir/state/changes/tail").exists(),
      "compaction must fold the tail")
    val stored = StreamingCdcMerge.storedChanges(spark, s"$dir/state", Seq("k"))
    assert(stored.count() === 3L, "one winner row per touched key")
    assert(stored.filter(col("op") === "D").count() === 1L,
      "the delete tombstone must survive compaction")
    assert(snap() === batchTruth, "compaction changed the snapshot")
    // a post-compaction batch redelivering the STALE update for the
    // deleted key: the retained tombstone must keep beating it
    StreamingCdcMerge.processBatch(
      Seq((2L, "stale", 99.0, 3L, 103L, "U")).toDF(cols: _*), 2L,
      Seq("k"), "ver", "op", s"$dir/state", Seq("eid"))
    assert(snap() === batchTruth,
      "a stale post-compaction redelivery resurrected a deleted key")
  }

  test("streaming CDC merge replay idempotence: a replayed in-flight " +
      "batch (including batch 0) leaves state and snapshot unchanged") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("scdc_replay")
    val seed = Seq((1L, "a", 10.0)).toDF("k", "name", "bal")
    val cols = Seq("k", "name", "bal", "ver", "eid", "op")
    val b1 = Seq((1L, "u1", 11.0, 5L, 100L, "U"), (1L, "u0", 9.0, 4L, 99L, "U"))
    val b2 = Seq((2L, "new", 20.0, 6L, 101L, "U"))
    StreamingCdcMerge.seedState(seed, s"$dir/state")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingCdcMerge.start(stream, Seq("k"), "ver", "op",
      s"$dir/state", s"$dir/cp", tieBreak = Seq("eid"))
    StreamHarness.drain("scdc_replay", q)
    def state() = StreamingCdcMerge.storedChanges(spark, s"$dir/state", Seq("k"))
      .collect().map(_.toString).sorted.toSeq
    def snap() = StreamingCdcMerge.currentSnapshot(spark, s"$dir/state",
        Seq("k"), "ver", "op", tieBreak = Seq("eid"))
      .collect().map(_.toString).sorted.toSeq
    val (s0, n0) = (state(), snap())
    // the within-batch keep-last collapsed batch 0's two changes to one
    assert(s0.size === 2, s"per-batch pre-collapse missing: $s0")
    // replay BOTH batches through the production path — batch 0's replay
    // must not re-seed the store over batch 1's tail
    StreamingCdcMerge.processBatch(b1.toDF(cols: _*), 0L, Seq("k"), "ver",
      "op", s"$dir/state", Seq("eid"))
    StreamingCdcMerge.processBatch(b2.toDF(cols: _*), 1L, Seq("k"), "ver",
      "op", s"$dir/state", Seq("eid"))
    assert(state() === s0, "replay changed the change store")
    assert(snap() === n0, "replay changed the snapshot")
  }

  // the YAML screen for the config-as-query streaming tests: e05's gate
  // thresholds opened wide the way the code-built curation specs do
  private def curationCfg(minQuality: String = "0.0",
      maxDupBigramFrac: String = "1.0"): PipelineConfig =
    graft.config.ConfigCodec.pipelineFromYaml(
      s"""pipeline:
         |  name: streaming-curation
         |  stages:
         |    - stage: qualityGate
         |      options:
         |        lang: en
         |        minQuality: "$minQuality"
         |        maxDupBigramFrac: "$maxDupBigramFrac"
         |    - stage: decontaminate
         |      options:
         |        eval: benchmark
         |        n: "5"
         |        threshold: "0.5"
         |""".stripMargin)

  test("streaming config-as-query: the YAML-declared screen drains to the " +
      "exact survivor and fingerprint state the code-built screen leaves") {
    import org.apache.spark.sql.functions._
    val seedText = "the seed corpus document that we already kept and curated"
    val evalText = "the held out evaluation prompt that must never leak into training"
    val evalDocs = Seq((900L, evalText)).toDF("doc_id", "text")
    val b1 = Seq(
      (11L, "the first unique document about engines and the data we keep", "en"),
      (12L, seedText, "en"),
      (13L, evalText, "en"),
      (15L, "the shared duplicate text that appears twice in this batch", "en"),
      (14L, "the shared duplicate text that appears twice in this batch", "en"),
      (16L, "der hund und die katze sind nicht ein tier mit dem anderen", "de"),
      (17L, null.asInstanceOf[String], "en"))
    val b2 = Seq(
      (21L, "the first unique document about engines and the data we keep", "en"),
      (22L, "the second unique document and the words it is made of", "en"))
    def drain(viaConfig: Boolean): (Seq[Long], Seq[String]) = {
      val dir = tempDir(s"sc_cfg_$viaConfig")
      StreamingCuration.seedFingerprints(
        Seq((0L, seedText)).toDF("doc_id", "text"), "text", s"$dir/fp",
        partitionedBase = true)
      val stream = StreamHarness.feed(dir,
        b1.toDF("doc_id", "text", "lang"),
        b2.toDF("doc_id", "text", "lang"))
      val q =
        if (viaConfig) StreamingCuration.startFromConfig(spark, stream,
          curationCfg(), Map("benchmark" -> evalDocs),
          "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept", s"$dir/cp")
        else StreamingCuration.start(stream, evalDocs,
          "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept", s"$dir/cp",
          minQuality = 0.0, maxDupBigramFrac = 1.0)
      StreamHarness.drain("sc_cfg", q)
      (spark.read.parquet(s"$dir/kept")
        .select("doc_id").as[Long].collect().sorted.toSeq,
        StreamingCuration.fingerprintSnapshot(spark, s"$dir/fp")
          .select("fp").as[String].collect().sorted.toSeq)
    }
    val (codeKept, codeFps) = drain(viaConfig = false)
    val (cfgKept, cfgFps) = drain(viaConfig = true)
    assert(codeKept === Seq(11L, 14L, 22L), s"code-path survivors off: $codeKept")
    assert(cfgKept === codeKept, "YAML screen drifted from the code screen")
    assert(cfgFps === codeFps, "YAML fingerprint state drifted")
  }

  test("streaming config-as-query fails closed: a typo'd stage and a " +
      "contract-breaking pipeline abort BEFORE the stream starts") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sc_cfg_fail")
    StreamingCuration.seedFingerprints(
      Seq((0L, "seed")).toDF("doc_id", "text"), "text", s"$dir/fp",
      partitionedBase = true)
    val stream = StreamHarness.feed(dir,
      Seq((1L, "a doc", "en")).toDF("doc_id", "text", "lang"))
    val typod = PipelineConfig("p", List(StageDef("qualityGrate", Map.empty)))
    val e1 = intercept[graft.pipeline.StagePipeline.StageError] {
      StreamingCuration.startFromConfig(spark, stream, typod, Map.empty,
        "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept", s"$dir/cp")
    }
    assert(e1.getMessage.contains("unknown stage"))
    // a pipeline that drops the quality/text contract columns: the limit
    // stage resolves fine, but the compiled output has no 'quality'
    val noQuality = PipelineConfig("p", List(StageDef("limit", Map("n" -> "5"))))
    val e2 = intercept[IllegalArgumentException] {
      StreamingCuration.startFromConfig(spark, stream, noQuality, Map.empty,
        "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept", s"$dir/cp")
    }
    assert(e2.getMessage.contains("quality"))
    assert(!new java.io.File(s"$dir/kept").exists(),
      "a failed-closed start must not have written survivors")
  }

  test("streaming config-as-query replay idempotence: a replayed " +
      "in-flight batch through the YAML path lands exactly once") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sc_cfg_replay")
    val seedText = "the seed corpus document that we already kept and curated"
    StreamingCuration.seedFingerprints(
      Seq((0L, seedText)).toDF("doc_id", "text"), "text", s"$dir/fp",
      partitionedBase = true)
    val evalDocs = Seq((900L,
      "the held out evaluation prompt that must never leak into training"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (11L, "the first unique document about engines and the data we keep", "en"),
      (12L, seedText, "en"))
    val b2 = Seq(
      (21L, "the first unique document about engines and the data we keep", "en"),
      (22L, "the second unique document about layouts and the state we fold", "en"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text", "lang"),
      b2.toDF("doc_id", "text", "lang"))
    val q = StreamingCuration.startFromConfig(spark, stream,
      curationCfg(), Map("benchmark" -> evalDocs),
      "doc_id", "text", "lang", s"$dir/fp", s"$dir/kept", s"$dir/cp")
    StreamHarness.drain("sc_cfg_replay", q)
    def keptRows() = spark.read.parquet(s"$dir/kept")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def fpRows() = StreamingCuration.fingerprintSnapshot(spark, s"$dir/fp")
      .select("fp").as[String].collect().sorted.toSeq
    val (k0, f0) = (keptRows(), fpRows())
    assert(k0 === Seq(11L, 22L), s"drained survivors off: $k0")
    // replay the in-flight batch (b2 ran as batch id 1) through the exact
    // production config path: batch-keyed overwrite + exclude-own-tail
    StreamingCuration.processConfigBatch(
      b2.toDF("doc_id", "text", "lang"), 1L, curationCfg(),
      Map("benchmark" -> evalDocs), "doc_id", "text", "lang",
      s"$dir/fp", s"$dir/kept")
    assert(keptRows() === k0, "replay changed the survivor set")
    assert(fpRows() === f0, "replay changed the fingerprint state")
  }

  test("prunedDocsScan: candidate id prefixes land as PartitionFilters on " +
      "the docs base, untouched prefix files never opened, tail visible") {
    val dir = tempDir("snd_docprune")
    val corpus = (1L to 50L).map(i =>
      (i, s"corpus document number $i with some quite distinctive words $i here"))
      .toDF("doc_id", "text")
    StreamingNearDup.seedIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/docs", partitionedBase = Some(true))
    val candIds = Seq(3L, 17L, 999L).toDF("doc_id") // 999: a delta-side id
    val pruned = StreamingNearDup.prunedDocsScan(
      spark, s"$dir/docs", "doc_id", candIds)
    // the candidate-prefix predicate must classify as a PARTITION filter
    // (static pruning at planning time), not a pushed row filter
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = plan.substring(plan.indexOf("PartitionFilters: ["))
    assert(pf.substring(0, pf.indexOf("]")).contains("__idp"),
      s"candidate-prefix predicate is not a partition filter:\n$plan")
    // rows: exactly the stored docs of the candidates' prefix partitions
    val idp = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash($"doc_id"),
      org.apache.spark.sql.functions.lit(
        StreamingNearDup.docIdPrefixes)).cast("int")
    val prefixes = candIds.select(idp.as("p")).distinct()
      .as[Int].collect().toSet
    val expect = corpus.filter(idp.isin(prefixes.toSeq: _*))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val got = pruned.select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === expect)
    assert(got.nonEmpty && got.size < 50,
      "pruned docs read returned the whole base — nothing was pruned")
    assert(pruned.columns.sorted.toSeq === Seq("doc_id", "text"),
      "the derived __idp column leaked into the verification frame")
    // an empty candidate set reads no base rows; tail rows stay visible
    assert(StreamingNearDup.prunedDocsScan(spark, s"$dir/docs", "doc_id",
      candIds.limit(0)).count() === 0L)
    StreamingNearDup.appendDocs(
      Seq((999L, "a new batch document")).toDF("doc_id", "text"),
      s"$dir/docs")
    assert(StreamingNearDup.prunedDocsScan(spark, s"$dir/docs", "doc_id",
        candIds.limit(0)).select("doc_id").as[Long].collect().toSeq ===
      Seq(999L), "tail docs not visible through the pruned scan")
    // a legacy flat docs store still reads fully
    corpus.limit(3).write.parquet(s"$dir/flatdocs")
    assert(StreamingNearDup.prunedDocsScan(spark, s"$dir/flatdocs", "doc_id",
      candIds).count() === 3L)
  }

  test("legacy FLAT near-dup index: the screen still sees prior batches " +
      "(appends stay flat, no invisible tail) and compaction keeps all rows") {
    val dir = tempDir("snd_legacy")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about distributed query engines and shuffles"))
      .toDF("doc_id", "text")
    // a pre-LSM store: flat lshBuckets parquet at the dir root, no base/
    graft.operators.Dedup.lshBuckets(corpus, "doc_id", "text")
      .write.parquet(s"$dir/index")
    corpus.select("doc_id", "text").write.parquet(s"$dir/docs")
    val b1 = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"))
    val b2 = Seq(
      (103L, "the quick brown fox jumps over the lazy dog again and again tonight!"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text"),
      b2.toDF("doc_id", "text"))
    val q = StreamingNearDup.start(spark, stream, "doc_id", "text",
      s"$dir/index", s"$dir/docs", s"$dir/pairs", s"$dir/cp", threshold = 0.5)
    StreamHarness.drain("legacy-layout", q)
    val streamed = spark.read.parquet(s"$dir/pairs")
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    // the CROSS-BATCH pair only exists if batch 2 can see batch 1's
    // appended rows — a tail dir under a flat store would hide them
    assert(streamed.contains((101L, 103L)),
      s"batch-2 screen missed batch-1's appended index rows: $streamed")
    assert(!new java.io.File(s"$dir/index/tail").exists(),
      "a legacy flat store must keep appending flat, not grow a tail")
    // flat compaction preserves every appended row
    val before = StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .select("doc_id").distinct().as[Long].collect().toSet
    StreamingNearDup.compactState(spark, s"$dir/index")
    val after = StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(after === before, "flat compaction dropped appended index rows")
    // a MIXED store (flat root + stray tail/, the pre-fix writer's
    // leftover) must survive compaction with the tail rows folded in,
    // not silently deleted by a tail-blind flat read
    graft.operators.Dedup.lshBuckets(
        Seq((500L, "a stray tail row document about nothing in particular"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/index/tail")
    assert(StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .filter($"doc_id" === 500L).count() > 0, "snapshot blind to stray tail")
    StreamingNearDup.compactState(spark, s"$dir/index")
    assert(StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .filter($"doc_id" === 500L).count() > 0,
      "compaction deleted the stray tail's rows")
    assert(!new java.io.File(s"$dir/index/tail").exists(),
      "compaction left the stray tail behind")
  }

  test("compactState honors rowsPerFile on the LSM base via per-partition salting") {
    val dir = tempDir("snd_sizing")
    val corpus = (1L to 40L).map(i =>
      (i, s"corpus document number $i with some quite distinctive words $i here"))
      .toDF("doc_id", "text")
    StreamingNearDup.seedIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/docs", partitionedBase = Some(true))
    val liveParts = spark.read.parquet(s"$dir/index/base")
      .select("__band", "__bkp").distinct().count()
    // tiny rowsPerFile forces multiple files per sub-partition (the
    // per-partition average here is ~3 rows, so 1 row/file demands a split)
    StreamingNearDup.compactState(spark, s"$dir/index", rowsPerFile = 1)
    val files = parquetFiles(s"$dir/index")
    assert(files.size > liveParts,
      s"rowsPerFile ignored: ${files.size} files for $liveParts sub-partitions")
    // row set untouched by the salted rewrite
    assert(StreamingNearDup.indexSnapshot(spark, s"$dir/index").count() ===
      40L * 16)
  }

  test("compactState swap is crash-safe: a kill between the renames leaves " +
      "a recoverable copy, recoverState heals every half-state") {
    val dir = tempDir("snd_crash")
    val corpus = (1L to 10L).map(i =>
      (i, s"corpus document number $i with some distinctive words here"))
      .toDF("doc_id", "text")
    StreamingNearDup.seedIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/docs", partitionedBase = Some(true))
    def reread() = StreamingNearDup.indexSnapshot(spark, s"$dir/index")
      .select("doc_id", "__band", "__bandkey")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val rows = reread()
    val fs = new org.apache.hadoop.fs.Path(s"$dir/index")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)

    // crash BETWEEN the renames: current gone, .bak holds the only copy
    // (plus a half-written tmp) — the exact window the old delete+rename
    // swap lost state in
    assert(fs.rename(path(s"$dir/index"), path(s"$dir/index.bak")))
    corpus.limit(1).write.parquet(s"$dir/index.compacting")
    StreamingNearDup.recoverState(spark, s"$dir/index")
    assert(reread() === rows, "state lost in the between-renames window")
    assert(!fs.exists(path(s"$dir/index.bak")))
    assert(!fs.exists(path(s"$dir/index.compacting")))

    // crash AFTER the swap, before cleanup: current is the new state,
    // .bak is the stale copy — recovery keeps current, drops .bak
    corpus.limit(2).select("doc_id").write.parquet(s"$dir/other")
    assert(fs.rename(path(s"$dir/other"), path(s"$dir/index.bak")))
    StreamingNearDup.recoverState(spark, s"$dir/index")
    assert(reread() === rows, "recovery clobbered the live state with .bak")
    assert(!fs.exists(path(s"$dir/index.bak")))

    // compactState self-heals first: a dangling .bak from a prior crash
    // does not break a re-run, and the result is the same row set
    assert(fs.rename(path(s"$dir/index"), path(s"$dir/index.bak")))
    StreamingNearDup.compactState(spark, s"$dir/index")
    assert(reread() === rows, "compaction after crash changed the row set")
  }

  test("map-only enrichment ops run unchanged under readStream (batch parity)") {
    // the whole text-analysis family is map-only column expressions, so
    // the SAME operator calls compose under Structured Streaming with no
    // adaptation — the unified-semantics payoff the architecture claims.
    // deterministicSample is content-keyed, so the streaming sample equals
    // the batch sample row-for-row regardless of micro-batching.
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_enrich")
    val docs = (1 to 60).map(i =>
      (i.toLong, s"the quick document number $i with some words"))
    docs.toDF("doc_id", "text").repartition(3)
      .write.parquet(s"$dir/src")

    def enrich(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.deterministicSample(
        graft.operators.TextAnalysis.analyze(df, "text"), "text", keepPct = 50)
        .select("doc_id", "pred_lang", "n_tokens", "quality", "sample_bucket")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/src")
    val q = enrich(stream).writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    StreamHarness.drain("stream_enrich", q)

    val streamed = spark.read.parquet(s"$dir/out")
      .as[(Long, String, Int, Double, Long)].collect().toSet
    val batch = enrich(spark.read.parquet(s"$dir/src"))
      .as[(Long, String, Int, Double, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming drift monitor: drained PSI equals batch psiDrift; " +
      "replayed batch ids never double-count") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_drift")
    val ref = (1 to 100).map(i => (i % 10) / 10.0 + 0.05).toDF("v")
    // stream skews high: batch 1 mid values, batch 2 top-bucket heavy
    val b1 = (1 to 50).map(i => (i % 5) / 10.0 + 0.05)
    val b2 = (1 to 50).map(_ => 0.95)
    val stream = StreamHarness.feed(dir, b1.toDF("v"), b2.toDF("v"))
    val q = StreamingDrift.start(spark, stream, ref, "v",
      s"$dir/counts", s"$dir/psi", s"$dir/cp")
    // the d09 rule: a timed-out stream must FAIL, not fall through to
    // read whatever the sink holds
    StreamHarness.drain("drift", q)

    val drained = spark.read.parquet(s"$dir/psi")
      .select("bucket", "n_a", "n_b", "frac_a", "frac_b", "psi_term")
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSet
    val batchTruth = graft.operators.CorpusStats.psiDrift(
        ref, (b1 ++ b2).toDF("v"), "v")
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSet
    assert(drained === batchTruth)
    // replay idempotence: re-merging batch id 1's delta replaces, never
    // adds — simulate by re-running the same stream over a fresh
    // checkpoint but the SAME countsDir (every batch id replays)
    val q2 = StreamingDrift.start(spark, stream,
      ref, "v", s"$dir/counts", s"$dir/psi", s"$dir/cp2")
    StreamHarness.drain("drift replay", q2)
    val replayed = spark.read.parquet(s"$dir/psi")
      .select("bucket", "n_a", "n_b", "frac_a", "frac_b", "psi_term")
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSet
    assert(replayed === batchTruth)
  }

  test("streaming token budget: full, partial and rejected batches; " +
      "a fresh-checkpoint restart resets the spend") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_tb")
    // 4 tokens per doc; budget 13 → batch 1 admits fully (8), batch 2
    // PARTIALLY (doc 3 lands on 12, doc 4 would cross). Batch 3 is ONE
    // token — it would fit the leftover slack (12 + 1 <= 13) if spend
    // tracked only ADMITTED tokens, but the budget covers the stream's
    // head: doc 4's rejected tokens count against it, so doc 5 rejects
    val b1 = Seq((1L, "a b c d"), (2L, "e f g h"))
    val b2 = Seq((3L, "i j k l"), (4L, "m n o p"))
    val b3 = Seq((5L, "q"))
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/src")
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/src")
    b3.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/src")
    def run(cp: String): Unit = {
      val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/src")
      val q = StreamingTokenBudget.start(spark, stream, "doc_id", "text",
        budget = 13L, s"$dir/state", s"$dir/out", s"$dir/$cp")
      StreamHarness.drain("token-budget", q)
    }
    run("cp1")
    def drained(): Map[Long, (Long, Long)] =
      spark.read.parquet(s"$dir/out/batch=*")
        .select("doc_id", "n_tokens", "cum_tokens")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val got = drained()
    // doc 4 crosses (cum 16 > 13); doc 5's global cum is 17, NOT
    // admitted-so-far 12 + 1 — the head-of-stream contract
    assert(got === Map(1L -> (4L, 4L), 2L -> (4L, 8L), 3L -> (4L, 12L)),
      s"unexpected admission set: $got")
    // restart with a fresh checkpoint: batch 0 resets spend and output —
    // without the reset the old spend would reject everything
    run("cp2")
    assert(drained() === got)
    // resume the SAME checkpoint after new data lands: only the new batch
    // runs, and it spends against the accumulated total (8 + 8 + 1 = 17
    // > 13), so a tiny late doc stays rejected — no re-admission
    Seq((6L, "u v")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/src")
    run("cp2")
    assert(drained() === got,
      "a resumed stream re-admitted or double-counted after new data")
  }

  test("streaming heavy hitters: drained top-k equals batch topTokens; " +
      "a fresh-checkpoint restart resets rather than double-counts") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_hh")
    val b1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
    val b2 = Seq((3L, "alpha delta delta beta"))
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text"), b2.toDF("doc_id", "text"))
    def run(cp: String): Unit = {
      val q = StreamingHeavyHitters.start(stream, "text",
        s"$dir/counts", s"$dir/top", s"$dir/$cp", k = 3)
      StreamHarness.drain("heavy-hitter", q)
    }
    run("cp1")
    val truth = graft.operators.TextAnalysis.topTokens(
        (b1 ++ b2).toDF("doc_id", "text"), "text", 3)
      .as[(Int, String, Long)].collect().toSet
    val drained = spark.read.parquet(s"$dir/top")
      .as[(Int, String, Long)].collect().toSet
    assert(drained === truth)
    assert(drained.map(t => t._2 -> t._3).toMap ==
      Map("alpha" -> 3L, "beta" -> 3L, "delta" -> 2L))
    // second run, fresh checkpoint, SAME state dir: batch 0 must reset
    // the old deltas or every count doubles
    run("cp2")
    val rerun = spark.read.parquet(s"$dir/top")
      .as[(Int, String, Long)].collect().toSet
    assert(rerun === truth)
    // compaction folds the per-batch dirs into batch=-1 WITHOUT changing
    // the accumulated counts the glob read sees
    StreamingHeavyHitters.compactState(spark, s"$dir/counts")
    val compacted = spark.read.parquet(s"$dir/counts/batch=*")
      .as[(String, Long)].collect().toMap
    assert(compacted == Map("alpha" -> 3L, "beta" -> 3L, "gamma" -> 1L,
      "delta" -> 2L), compacted)
    // a post-compaction continuation run (fresh checkpoint → batch-0
    // reset) still lands on the truth
    run("cp3")
    val after = spark.read.parquet(s"$dir/top")
      .as[(Int, String, Long)].collect().toSet
    assert(after === truth)
  }

  test("heavy-hitter compactState swap is crash-safe: between-renames and " +
      "post-swap half-states both recover the full counts") {
    val dir = tempDir("hh_crash")
    Seq(("alpha", 3L), ("beta", 2L)).toDF("token", "n")
      .write.parquet(s"$dir/counts/batch=0")
    Seq(("alpha", 1L)).toDF("token", "n")
      .write.parquet(s"$dir/counts/batch=1")
    def folded() = spark.read.parquet(s"$dir/counts/batch=*")
      .groupBy("token").agg(org.apache.spark.sql.functions.sum($"n").as("n"))
      .as[(String, Long)].collect().toMap
    val truth = folded()
    val fs = new org.apache.hadoop.fs.Path(s"$dir/counts")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // crash between the renames: counts staged at .bak, live dir EMPTY
    // (the mkdirs ran, the batch=-1 rename did not), tmp dangling
    assert(fs.rename(path(s"$dir/counts"), path(s"$dir/counts.bak")))
    fs.mkdirs(path(s"$dir/counts"))
    Seq(("junk", 9L)).toDF("token", "n").write.parquet(s"$dir/counts.compact")
    StreamingHeavyHitters.recoverState(spark, s"$dir/counts")
    assert(folded() == truth, "counts lost in the between-renames window")
    assert(!fs.exists(path(s"$dir/counts.bak")))
    assert(!fs.exists(path(s"$dir/counts.compact")))
    // crash after the swap, before cleanup: live dir non-empty, stale .bak
    StreamingHeavyHitters.compactState(spark, s"$dir/counts")
    Seq(("stale", 1L)).toDF("token", "n").write.parquet(s"$dir/counts.bak/batch=0")
    StreamingHeavyHitters.recoverState(spark, s"$dir/counts")
    assert(folded() == truth, "recovery clobbered live counts with stale .bak")
    assert(!fs.exists(path(s"$dir/counts.bak")))
  }

  test("streaming entity resolution: cross-batch merges land on the batch " +
      "closure, a replayed batch is a no-op, compaction keeps the latest " +
      "snapshot") {
    val dir = tempDir("ser")
    // batch 0: two separate proto-entities; batch 1: a bridge name within
    // one edit of BOTH 'cold ring' and 'gold ring' -> merges the clusters
    val b0 = Seq((1L, "cold ring"), (2L, "gold ring"), (3L, "hot gear"))
      .toDF("id", "name")
    val b1 = Seq((10L, "old ring"), (11L, "cold ring"), (12L, "hot bear"))
      .toDF("id", "name")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingEntityResolution.processBatch(batch, id, "id", "name",
        s"$dir/names", s"$dir/map", maxDist = 1)
    run(b0, 0L)
    run(b1, 1L)
    def resolved() = StreamingEntityResolution
      .resolvedMap(spark, s"$dir/names", s"$dir/map")
      .select("name", "cluster_id").as[(String, Long)].collect().toMap
    val truth = Map(
      // 'old ring' (ed 1 to both) bridges cold+gold; min name_id = 1
      "cold ring" -> 1L, "gold ring" -> 1L, "old ring" -> 1L,
      // 'hot bear' joins 'hot gear' (ed 1); min id = 3
      "hot gear" -> 3L, "hot bear" -> 3L)
    assert(resolved() == truth, resolved())
    // a crash-replay of batch 1 reads batch-0 state (its own snapshots are
    // excluded) and overwrites its own partitions: state unchanged
    run(b1, 1L)
    assert(resolved() == truth, "replay drifted the resolved map")
    // name ids are the stable first-seen minima
    val names = StreamingEntityResolution
      .resolvedMap(spark, s"$dir/names", s"$dir/map")
      .select("name", "name_id").as[(String, Long)].collect().toMap
    assert(names("cold ring") === 1L && names("old ring") === 10L)
    // WRITE-AMPLIFICATION PIN (the r9 hardening ask): a batch's map tail
    // holds ONLY its delta — new names' assignments plus relabeled
    // members of merged clusters — never a vocabulary-scale snapshot.
    // Batch 1 added 2 new names and merged nothing already-labeled
    // differently, so its tail is exactly their 2 assignment rows (the
    // 5-name vocabulary would be 5).
    val tail1 = spark.read.parquet(s"$dir/map/tail/batch=1")
      .select("name_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(tail1 == Set((10L, 1L), (12L, 3L)),
      s"batch-1 map tail is not the O(delta) set: $tail1")
    // names tail likewise: only the batch's NEW names (cold ring
    // re-arrived as id 11 and must not be rewritten)
    val ntail1 = spark.read.parquet(s"$dir/names/tail/batch=1")
      .select("name").as[String].collect().toSet
    assert(ntail1 == Set("old ring", "hot bear"), ntail1)
    // compaction folds the tails into fresh bases (latest-wins map)
    StreamingEntityResolution.compactState(spark, s"$dir/names", s"$dir/map")
    assert(!new java.io.File(s"$dir/map/tail").exists())
    assert(!new java.io.File(s"$dir/names/tail").exists())
    assert(resolved() == truth, "compaction changed the resolved map")
  }

  test("streaming entity resolution: a merge relabels only the touched " +
      "cluster's rows in the tail, and the monotone-id contract is " +
      "enforced per batch") {
    val dir = tempDir("ser_delta")
    // batch 0: two separate clusters at maxDist 1 ('abcd' vs 'abef' is
    // distance 2); batch 1: 'abed' is within 1 of BOTH -> merge
    val b0 = Seq((5L, "abcd"), (7L, "abef")).toDF("id", "name")
    val b1 = Seq((10L, "abed")).toDF("id", "name")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingEntityResolution.processBatch(batch, id, "id", "name",
        s"$dir/names", s"$dir/map", maxDist = 1)
    run(b0, 0L)
    run(b1, 1L)
    val got = StreamingEntityResolution
      .resolvedMap(spark, s"$dir/names", s"$dir/map")
      .select("name", "cluster_id").as[(String, Long)].collect().toMap
    assert(got == Map("abcd" -> 5L, "abef" -> 5L, "abed" -> 5L), got)
    // the merge relabeled cluster 7 -> 5: the tail carries the delta
    // vertex AND the relabeled member, but NOT the untouched row 5
    val tail1 = spark.read.parquet(s"$dir/map/tail/batch=1")
      .select("name_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(tail1 == Set((10L, 5L), (7L, 5L)), tail1)
    // latest-wins: the base still holds (7, 7); the tail override rules
    val base = spark.read.parquet(s"$dir/map/base")
      .select("name_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(base.isEmpty || base.contains((7L, 7L)),
      s"expected the stale base row to survive un-rewritten: $base")
    // monotone-record-id contract: a batch dipping below the stored max
    // id fails fast instead of silently drifting cluster labels
    val ex = intercept[IllegalStateException] {
      run(Seq((3L, "zzzz")).toDF("id", "name"), 2L)
    }
    assert(ex.getMessage.contains("monotone-record-id"), ex.getMessage)
  }

  test("streaming vocab novelty: replay-exact counts against pre-batch " +
      "state; the seen-set base read carries a __tp PartitionFilter") {
    val dir = tempDir("svn")
    val seedDocs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    StreamingVocabNovelty.seedTokens(seedDocs, "text", s"$dir/tokens",
      partitionedBase = true)
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingVocabNovelty.processBatch(b, id, "text",
        s"$dir/tokens", s"$dir/report")
    // batch 0: 2 known + 2 new tokens; batch 1: re-sees batch 0's new
    // tokens (cross-batch state) + 1 new
    run(Seq((10L, "alpha beta delta epsilon")).toDF("doc_id", "text"), 0L)
    run(Seq((11L, "delta epsilon zeta")).toDF("doc_id", "text"), 1L)
    def rep() = StreamingVocabNovelty.report(spark, s"$dir/report")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rep() === Seq((0L, 4L, 2L), (1L, 3L, 1L)), rep())
    // a crash-replay of batch 1 excludes its own tail partition: counts
    // unchanged, no token double-appended
    run(Seq((11L, "delta epsilon zeta")).toDF("doc_id", "text"), 1L)
    assert(rep() === Seq((0L, 4L, 2L), (1L, 3L, 1L)), "replay drifted")
    // total stored tokens = 6 distinct (no duplicates from the replay)
    val base = spark.read.parquet(s"$dir/tokens/base").select("tok")
    val tail = spark.read.parquet(s"$dir/tokens/tail").select("tok")
    assert(base.unionByName(tail).distinct().count() === 6L)
    assert(base.unionByName(tail).count() === 6L,
      "replay appended duplicate tokens")
    // the pruned base read classifies __tp as a PARTITION filter (static
    // pruning, the d09 pin) — same layout/predicate shape processBatch uses
    val pruned = LsmParquetState.scan(spark, s"$dir/tokens",
      StreamingVocabNovelty.layout,
      org.apache.spark.sql.functions.col("__tp").isin(3))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"partitioned token base lost its partition filters:\n$plan")
    val pf = plan.substring(plan.indexOf("PartitionFilters: ["))
    assert(pf.substring(0, pf.indexOf("]")).contains("__tp"),
      s"__tp predicate is not a partition filter:\n$plan")
    // and one more live batch for good measure: a 1-token batch of a
    // known token reports zero novelty
    run(Seq((20L, "alpha")).toDF("doc_id", "text"), 2L)
    assert(rep().size === 3 && rep()(2) === ((2L, 1L, 0L)), rep())
  }

  test("streaming Markov attribution: journeys bridge batches through " +
      "user state, drained report equals the batch operator, replays " +
      "are exact, post-conversion events drop, monotone violation throws") {
    import graft.operators.Events
    val dir = tempDir("sma")
    val cols = Seq("user_id", "event_type", "ts", "event_id")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingMarkovAttribution.processBatch(b, id, "user_id",
        "event_type", "ts", "event_id", "purchase",
        Seq("click", "view", "signup"), s"$dir/state", s"$dir/report")
    // the EventsSpec hand-solved chain, split mid-journey: u1's click
    // lands in b0 and its purchase in b1 (the boundary bridge); u4's
    // journey spans both; u4's post-conversion click arrives last
    val b0 = Seq((1L, "click", 10L, 1L), (2L, "view", 10L, 3L),
      (4L, "click", 10L, 5L)).toDF(cols: _*)
    val b1 = Seq((1L, "purchase", 20L, 2L), (3L, "purchase", 20L, 4L),
      (4L, "view", 20L, 6L), (4L, "purchase", 30L, 7L),
      (4L, "click", 40L, 8L)).toDF(cols: _*)
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingMarkovAttribution.report(spark, s"$dir/report")
      .as[(String, Double, Double, Option[Double], Option[Double],
        Option[Double])].collect().sortBy(_._1).toSeq
    val want = Events.markovAttribution(b0.unionByName(b1), "user_id",
        "event_type", "ts", "event_id", "purchase",
        Seq("click", "view", "signup"))
      .as[(String, Double, Double, Option[Double], Option[Double],
        Option[Double])].collect().sortBy(_._1).toSeq
    assert(rep() === want, s"drained ${rep()} != batch $want")
    // hand-check the headline numbers (the EventsSpec chain)
    assert(want.find(_._1 == "click").get._5 === Some(0.6))
    // a crash-replay of batch 1 reads only pre-batch state: identical
    run(b1, 1L)
    assert(rep() === want, "replay drifted")
    // batch 2: u4 touches AFTER conversion (ignored — the report must
    // not move except via u2's journey staying open), u2 converts now
    val b2 = Seq((4L, "signup", 50L, 9L), (2L, "purchase", 50L, 10L))
      .toDF(cols: _*)
    run(b2, 2L)
    val after = rep()
    val want2 = Events.markovAttribution(
        b0.unionByName(b1).unionByName(b2), "user_id", "event_type",
        "ts", "event_id", "purchase", Seq("click", "view", "signup"))
      .as[(String, Double, Double, Option[Double], Option[Double],
        Option[Double])].collect().sortBy(_._1).toSeq
    assert(after === want2, s"3-batch drain $after != batch $want2")
    // compaction folds all three stores; the next batch sees the same
    StreamingMarkovAttribution.compactState(spark, s"$dir/state")
    run(Seq((9L, "view", 60L, 11L)).toDF(cols: _*), 3L)
    val want3 = Events.markovAttribution(
        b0.unionByName(b1).unionByName(b2)
          .unionByName(Seq((9L, "view", 60L, 11L)).toDF(cols: _*)),
        "user_id", "event_type", "ts", "event_id", "purchase",
        Seq("click", "view", "signup"))
      .as[(String, Double, Double, Option[Double], Option[Double],
        Option[Double])].collect().sortBy(_._1).toSeq
    assert(rep() === want3, "post-compaction drain diverged")
    // out-of-order delivery fails fast
    val ex = intercept[IllegalStateException] {
      run(Seq((1L, "click", 5L, 12L)).toDF(cols: _*), 4L)
    }
    assert(ex.getMessage.contains("monotone-ingest"), ex.getMessage)
  }

  test("streaming distinctive terms: batch-vs-history G² equals the batch " +
      "operator's 2-slice statistic, counts accumulate additively, " +
      "replays are exact, compaction preserves the report") {
    import graft.operators.TextAnalysis
    val dir = tempDir("sdt")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingDistinctiveTerms.processBatch(b, id, "text",
        s"$dir/state", s"$dir/report", minCount = 1L)
    val b0 = Seq((1L, "alpha alpha beta gamma")).toDF("doc_id", "text")
    val b1 = Seq((2L, "alpha beta beta beta zeta")).toDF("doc_id", "text")
    run(b0, 0L)
    run(b1, 1L)
    def rep(batch: Long) = StreamingDistinctiveTerms
      .report(spark, s"$dir/report")
      .filter(org.apache.spark.sql.functions.col("batch") === batch)
      .as[(Long, String, Long, Long, Double, Boolean)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5, r._6))).toMap
    // batch 1 vs history (= batch 0): the SAME statistic the batch
    // operator computes over a 2-slice corpus (slice b1 vs slice b0)
    val want = TextAnalysis.distinctiveTerms(
        Seq(("b1", "alpha beta beta beta zeta"),
          ("b0", "alpha alpha beta gamma")).toDF("slice", "text"),
        "slice", "text", minCount = 1L)
      .filter(org.apache.spark.sql.functions.col("slice") === "b1")
      .as[(String, String, Long, Long, Double, Boolean)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5, r._6))).toMap
    assert(rep(1L) === want,
      s"stream != batch 2-slice keyness: ${rep(1L)} vs $want")
    // batch 0 audited against EMPTY history: every token is new,
    // hist counts 0, and the degenerate contingency stays finite
    assert(rep(0L).values.forall(v => v._2 === 0L && !v._3.isNaN))
    // replay of batch 1 excludes its own tail: report identical, the
    // additive counts do not double
    val before = rep(1L)
    run(b1, 1L)
    assert(rep(1L) === before, "replay drifted the report")
    // a third batch sees b0+b1 as history: alpha history = 2+1
    run(Seq((3L, "alpha")).toDF("doc_id", "text"), 2L)
    assert(rep(2L)("alpha")._1 === 1L && rep(2L)("alpha")._2 === 3L)
    // compaction folds tails; the next batch reads the same history
    StreamingDistinctiveTerms.compactState(spark, s"$dir/state")
    run(Seq((4L, "alpha")).toDF("doc_id", "text"), 3L)
    assert(rep(3L)("alpha")._2 === 4L,
      "post-compaction history lost counts")
  }

  test("streaming DQ monitor: per-batch counts sum to the corpus audit, " +
      "a replayed batch overwrites its own partition, self-referential " +
      "ForeignKey refuses") {
    import graft.operators.DqAudit.{ForeignKey, NotNull, RangeRule}
    val dir = tempDir("sdq")
    val rules = Seq(
      NotNull("v_nn", "t", "v"),
      RangeRule("v_neg", "t", org.apache.spark.sql.functions.col("v") < 0))
    val b0 = Seq[(Long, java.lang.Double)]((1L, 5.0), (2L, null), (3L, -1.0))
      .toDF("id", "v")
    val b1 = Seq[(Long, java.lang.Double)]((4L, -2.0), (5L, 7.0))
      .toDF("id", "v")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingDqMonitor.processBatch(b, id, "t", Map.empty, rules,
        s"$dir/counts")
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingDqMonitor.report(spark, s"$dir/counts")
      .select("check", "violations", "total")
      .as[(String, Long, Long)].collect()
      .map { case (k, v, t) => k -> ((v, t)) }.toMap
    val truth = Map("v_nn" -> ((1L, 5L)), "v_neg" -> ((2L, 5L)))
    assert(rep() == truth, rep())
    // replay of batch 1 overwrites its own counts — no double counting
    run(b1, 1L)
    assert(rep() == truth, "replay double-counted")
    // a ForeignKey against the streaming table itself would resolve per
    // batch and mis-count cross-batch references: refused up front
    b0.write.parquet(s"$dir/src")
    val err = intercept[IllegalArgumentException] {
      StreamingDqMonitor.start(
        spark.readStream.schema("id BIGINT, v DOUBLE")
          .parquet(s"$dir/src"),
        "t", Map.empty, Seq(ForeignKey("self_fk", "t", "id", "t", "id")),
        s"$dir/c2", s"$dir/cp2")
    }
    assert(err.getMessage.contains("static"), err.getMessage)
  }

  test("streaming DQ monitor UniqueKey: cross-batch duplicates count " +
      "through the persisted key store, the drained report equals the " +
      "batch audit, and a replayed batch is exact") {
    import graft.operators.DqAudit.UniqueKey
    val dir = tempDir("sdq_uk")
    val rules = Seq(UniqueKey("pk", "t", Seq("k")))
    // batch 0: in-batch dup (7) + a null key; batch 1: cross-batch dups
    // (7 again, null again) + one new key
    val b0 = Seq[java.lang.Long](7L, 7L, 9L, null).toDF("k")
    val b1 = Seq[java.lang.Long](7L, null, 11L).toDF("k")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingDqMonitor.processBatch(b, id, "t", Map.empty, rules,
        s"$dir/counts")
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingDqMonitor.report(spark, s"$dir/counts")
      .select("violations", "total").as[(Long, Long)].collect().head
    // batch audit truth over the 7-row corpus: distinct keys {7, 9,
    // null, 11} -> violations = 7 - 4 = 3 (null IS a key value, the
    // count_distinct(struct) convention)
    assert(rep() == ((3L, 7L)), rep())
    // whole-corpus equality with the batch DqAudit
    val batchTruth = graft.operators.DqAudit
      .run(Map("t" -> b0.unionByName(b1)), rules)
      .select("violations", "total").as[(Long, Long)].collect().head
    assert(rep() == batchTruth, s"streaming ${rep()} != batch $batchTruth")
    // a crash-replay of batch 1 reads pre-batch key state (its own tail
    // excluded) and overwrites its own partitions: nothing drifts
    run(b1, 1L)
    assert(rep() == ((3L, 7L)), "replay drifted the UniqueKey count")
    // key-store compaction between runs preserves the seen set
    StreamingDqMonitor.compactKeys(spark, s"$dir/counts", rules)
    run(Seq[java.lang.Long](9L, 13L).toDF("k"), 2L)
    assert(rep() == ((4L, 9L)), rep())
  }

  test("streaming entity resolution heals a crash mid-snapshot-write: the " +
      "replay rebuilds its batch partitions from pre-batch state") {
    val dir = tempDir("ser_crash")
    val b0 = Seq((1L, "cold ring"), (2L, "hot gear")).toDF("id", "name")
    val b1 = Seq((10L, "old ring")).toDF("id", "name")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingEntityResolution.processBatch(batch, id, "id", "name",
        s"$dir/names", s"$dir/map", maxDist = 1)
    run(b0, 0L)
    // simulate a crash that left batch 1's map tail delta half-written
    // (garbage rows) and its names tail missing entirely
    Seq((999L, 999L)).toDF("name_id", "cluster_id")
      .write.parquet(s"$dir/map/tail/batch=1")
    // the foreachBatch replay of batch 1 must read batch-0 state (its own
    // tail partitions are excluded) and OVERWRITE the garbage
    run(b1, 1L)
    val got = StreamingEntityResolution
      .resolvedMap(spark, s"$dir/names", s"$dir/map")
      .select("name", "cluster_id").as[(String, Long)].collect().toMap
    assert(got == Map("cold ring" -> 1L, "old ring" -> 1L, "hot gear" -> 2L),
      got)
  }

  test("compaction refuses while a registered stream is active over the " +
      "state dir, runs again once it stops, and prunes the registration") {
    val dir = tempDir("lsm_guard")
    val layout = LsmLayout(Seq("__p"), Seq("__p"),
      df => df.withColumn("__p",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash($"id"),
          org.apache.spark.sql.functions.lit(4))))
    LsmParquetState.seed(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$dir/state", layout)
    // simulate a live owner through the same seam start() uses
    var live = true
    LsmParquetState.registerOwner(s"$dir/state", "test stream", () => live)
    val ex = intercept[IllegalStateException] {
      LsmParquetState.compact(spark, s"$dir/state", layout)
    }
    assert(ex.getMessage.contains("stop the stream"), ex.getMessage)
    // state untouched by the refused compaction — no half-swap artifacts
    assert(!new java.io.File(s"$dir/state.compacting").exists())
    assert(!new java.io.File(s"$dir/state.bak").exists())
    // the stream stops → compaction proceeds and prunes the registration,
    // so a SECOND compaction needs no re-registration bookkeeping
    live = false
    LsmParquetState.compact(spark, s"$dir/state", layout)
    LsmParquetState.compact(spark, s"$dir/state", layout)
    val rows = LsmParquetState.snapshot(spark, s"$dir/state", layout)
      .as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b")))
    // the heavy-hitters compactor honors the same guard
    Seq(("alpha", 3L)).toDF("token", "n")
      .write.parquet(s"$dir/counts/batch=0")
    var hhLive = true
    LsmParquetState.registerOwner(s"$dir/counts", "hh stream", () => hhLive)
    intercept[IllegalStateException] {
      StreamingHeavyHitters.compactState(spark, s"$dir/counts")
    }
    hhLive = false
    StreamingHeavyHitters.compactState(spark, s"$dir/counts")
    assert(spark.read.parquet(s"$dir/counts/batch=*")
      .as[(String, Long)].collect().toSet == Set(("alpha", 3L)))
  }

  test("streaming funnel: chains extend across time-ordered batches, the " +
      "tail holds only changed users, replay is exact, and a watermark " +
      "violation fails fast") {
    val dir = tempDir("sfun")
    val stages = Seq("view", "click", "purchase")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingFunnel.processBatch(b, id, "user_id", "event_type", "ts",
        stages, s"$dir/state")
    def rep() = StreamingFunnel
      .report(spark, s"$dir/state", "user_id", stages)
      .as[(Long, Long, Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // batch 0 (ts 1..10): user 1 view->click; user 2 view only; user 3
    // clicks without viewing (no chain)
    val b0 = Seq(
      (1L, "view", 1L), (1L, "click", 3L),
      (2L, "view", 5L), (3L, "click", 2L)).toDF("user_id", "event_type", "ts")
    // batch 1 (ts 11..20): user 1 purchases (completes); user 2 clicks;
    // user 3 finally views (chain starts); user 4 appears complete
    val b1 = Seq(
      (1L, "purchase", 11L), (2L, "click", 12L), (3L, "view", 13L),
      (4L, "view", 14L), (4L, "click", 15L), (4L, "purchase", 16L))
      .toDF("user_id", "event_type", "ts")
    run(b0, 0L)
    assert(rep() == Map(
      1L -> ((1L, Some(3L), None, 2)),
      2L -> ((5L, None, None, 1))), rep())
    run(b1, 1L)
    val truth = Map(
      1L -> ((1L, Some(3L), Some(11L), 3)),
      2L -> ((5L, Some(12L), None, 2)),
      3L -> ((13L, None, None, 1)),
      4L -> ((14L, Some(15L), Some(16L), 3)))
    assert(rep() == truth, rep())
    // the drained report equals the batch operator over all events
    val batchTruth = graft.operators.Events
      .funnel(b0.unionByName(b1), "user_id", "event_type", "ts", stages)
      .as[(Long, Long, Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(rep() == batchTruth)
    // WRITE-AMPLIFICATION PIN: batch 1's tail holds exactly the users
    // whose chain changed (1, 2, 3, 4) — and batch-0's unchanged rows
    // are not rewritten (trivially here, all changed; the pin that
    // matters: a NO-OP batch writes nothing)
    run(Seq((9L, "click", 18L)).toDF("user_id", "event_type", "ts"), 2L)
    val tail2 = spark.read.parquet(s"$dir/state/tail/batch=2")
    assert(tail2.count() == 0L,
      "a batch changing no chains must write an empty delta")
    assert(rep() == truth, "no-op batch drifted the report")
    // replay of batch 1 reads pre-batch state and overwrites its tail
    run(b1, 1L)
    assert(rep() == truth, "replay drifted the funnel")
    // watermark contract: an out-of-order batch fails fast
    val ex = intercept[IllegalStateException] {
      run(Seq((5L, "view", 2L)).toDF("user_id", "event_type", "ts"), 3L)
    }
    assert(ex.getMessage.contains("time-ordered"), ex.getMessage)
    // compaction folds the tail and keeps the report identical
    StreamingFunnel.compactState(spark, s"$dir/state", "user_id", stages)
    assert(!new java.io.File(s"$dir/state/tail").exists())
    assert(rep() == truth, "compaction changed the funnel")
  }

  test("streaming substring index: search over the accumulated postings " +
      "equals the full-scan truth, replays are idempotent, compaction " +
      "preserves answers") {
    val dir = tempDir("ssi")
    val b0 = Seq((1L, "the quick brown fox jumps"),
      (2L, "pack my box with five dozen jugs")).toDF("doc_id", "text")
    val b1 = Seq((3L, "quick boxes everywhere"), (4L, ""))
      .toDF("doc_id", "text")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingSubstringIndex.processBatch(b, id, "doc_id", "text",
        s"$dir/index", s"$dir/docs")
    run(b0, 0L)
    run(b1, 1L)
    run(b1, 1L) // crash-replay overwrites its own tail partitions
    val pats = Seq("quick b", "box", "zz", "ox").toDF("pattern")
    def got() = StreamingSubstringIndex.search(spark, s"$dir/index",
        s"$dir/docs", "doc_id", pats, "pattern")
      .as[(String, Long)].collect().toSet
    val truth = (for {
      (id, text) <- Seq((1L, "the quick brown fox jumps"),
        (2L, "pack my box with five dozen jugs"),
        (3L, "quick boxes everywhere"), (4L, ""))
      p <- Seq("quick b", "box", "zz", "ox")
      if text.contains(p)
    } yield (p, id)).toSet
    assert(got() == truth, s"got ${got()}\nwant $truth")
    StreamingSubstringIndex.compactState(spark, s"$dir/index",
      s"$dir/docs", "doc_id")
    assert(!new java.io.File(s"$dir/index/tail").exists())
    assert(got() == truth, "compaction changed search answers")
  }

  test("pending ownership covers the start() window: a claim taken " +
      "before the query exists already blocks compaction, and is " +
      "released on cancel or delegated on bind") {
    val dir = tempDir("lsm_pending")
    val layout = LsmLayout(Seq("__p"), Seq("__p"),
      df => df.withColumn("__p",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash($"id"),
          org.apache.spark.sql.functions.lit(4))))
    LsmParquetState.seed(Seq((1L, "a")).toDF("id", "v"), s"$dir/s", layout)
    // the pre-start claim counts as ACTIVE before any query is bound —
    // exactly the first-micro-batch-already-live window the old
    // register-after-start pattern left open
    val h = LsmParquetState.registerPending(s"$dir/s")
    intercept[IllegalStateException] {
      LsmParquetState.compact(spark, s"$dir/s", layout)
    }
    // a second claimant (e.g. another stream start) is refused too
    intercept[IllegalStateException] {
      LsmParquetState.registerPending(s"$dir/s")
    }
    // start() threw → cancel releases the claim; compaction proceeds
    h.cancel()
    LsmParquetState.compact(spark, s"$dir/s", layout)
    assert(LsmParquetState.snapshot(spark, s"$dir/s", layout)
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    // startOwning releases its claims when start fails: a batch frame
    // makes writeStream throw after the claim is taken
    intercept[org.apache.spark.sql.AnalysisException] {
      LsmParquetState.startOwning(Seq((2L, "b")).toDF("id", "v"),
        s"$dir/cp", Seq(s"$dir/s"))((_, _) => ())
    }
    LsmParquetState.compact(spark, s"$dir/s", layout)
  }

  test("startOwning runs every micro-batch under its claims, takes them " +
      "all before the query starts, and releases them on failure") {
    val dir = tempDir("lsm_start_owning")
    val src = StreamHarness.feed(dir, Seq((1L, "a")).toDF("id", "v"),
      Seq((2L, "b")).toDF("id", "v"))
    val claimed = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val q = LsmParquetState.startOwning(src, s"$dir/cp", Seq(s"$dir/s")) {
      (_, _) => claimed.add(
        scala.util.Try(LsmParquetState.guardNotStreaming(s"$dir/s")).isFailure)
    }
    StreamHarness.drain("start_owning", q)
    assert(claimed.toArray.toSeq == Seq(true, true),
      "every micro-batch must see its state dir claimed")
    // the query has stopped: its claim lapses
    LsmParquetState.guardNotStreaming(s"$dir/s")
    // a dir another owner holds fails the claim before anything starts,
    // and the claims taken before it are released
    val other = LsmParquetState.registerPending(s"$dir/b")
    intercept[IllegalStateException] {
      LsmParquetState.startOwning(src, s"$dir/cp2",
        Seq(s"$dir/s", s"$dir/b"))((_, _) => ())
    }
    assert(!new java.io.File(s"$dir/cp2").exists(), "no query may start")
    LsmParquetState.guardNotStreaming(s"$dir/s")
    other.cancel()
  }

  test("StreamHarness.feed streams each frame as one micro-batch, in " +
      "order, and rejects frames whose schemas differ") {
    val dir = tempDir("feed")
    val frames = Seq(Seq(11, 12, 13), Seq(21, 22, 23, 24, 25), Seq(31, 32))
    val src = StreamHarness.feed(dir, frames.map(_.toDF("v")): _*)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    val q = LsmParquetState.startOwning(src, s"$dir/cp", Nil) {
      (batch, _) => seen.add(batch.as[Int].collect().toSeq.sorted)
    }
    StreamHarness.drain("feed", q)
    assert(seen.toArray.toSeq == frames)
    assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(3L, 5L, 2L))
    // a renamed or retyped column is rejected before anything is written
    val bad = tempDir("feed_bad")
    intercept[IllegalArgumentException] {
      StreamHarness.feed(bad, Seq(1).toDF("v"), Seq(2).toDF("w"))
    }
    intercept[IllegalArgumentException] {
      StreamHarness.feed(bad, Seq(1).toDF("v"), Seq(2L).toDF("v"))
    }
    assert(!new java.io.File(s"$bad/stream").exists())
  }

  test("streaming KS drift: additive histogram state reproduces the " +
      "batch statistic across arbitrary batch splits; replay is exact") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_ks")
    val ref = (1 to 60).map(i => (i % 10).toLong).toDF("v")
    val streamed = (1 to 40).map(i => (i % 10 + 3).toLong).toDF("v")
    val stream = StreamHarness.feed(dir,
      streamed.filter($"v" % 2 === 0),
      streamed.filter($"v" % 2 === 1))
    val q = StreamingKsDrift.start(stream, "v",
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("stream_ks", q)
    val got = StreamingKsDrift.report(spark, s"$dir/state", ref, "v")
      .as[(Double, Double)].head()
    val want = graft.operators.CorpusStats.ksStatistic(ref, streamed, "v")
      .as[(Double, Double)].head()
    assert(got === want, "drained KS must equal the batch statistic")
    assert(got._1 > 0.0, "the shifted stream must register drift")
    // replay batch 0: counts must not double
    StreamingKsDrift.processBatch(streamed.filter($"v" % 2 === 0), 0L,
      "v", s"$dir/state")
    val replayed = StreamingKsDrift.report(spark, s"$dir/state", ref, "v")
      .as[(Double, Double)].head()
    assert(replayed === want, "replay must be idempotent")
    StreamingKsDrift.compactState(spark, s"$dir/state")
    val compacted = StreamingKsDrift.report(spark, s"$dir/state", ref, "v")
      .as[(Double, Double)].head()
    assert(compacted === want)
  }

  test("streaming RFM: out-of-order batches fold to the exact batch " +
      "totals (max/sum/sum associativity), replay overwrites its own tail") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_rfm")
    val ev = Seq(
      // user 1 split across batches, deliberately time-disordered
      (1L, 100L, 5.0), (1L, 50L, 2.5), (1L, 200L, 1.0),
      (2L, 80L, 10.0), (3L, 10L, 0.5))
      .toDF("user_id", "ts", "value")
    // batch 0: the LATER events; batch 1: the earlier ones
    val stream = StreamHarness.feed(dir,
      ev.filter($"ts" >= 100L),
      ev.filter($"ts" < 100L))
    val q = StreamingRfm.start(stream, "user_id", "ts", "value",
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("stream_rfm", q)
    val got = StreamingRfm.report(spark, s"$dir/state", "user_id")
      .select("user_id", "recency_ns", "frequency", "monetary")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((200L, 3L, 8.5)))
    assert(got(2L) === ((80L, 1L, 10.0)))
    assert(got(3L) === ((10L, 1L, 0.5)))
    // replay batch 0 through the production path: totals unchanged
    StreamingRfm.processBatch(ev.filter($"ts" >= 100L), 0L,
      "user_id", "ts", "value", s"$dir/state")
    val replayed = StreamingRfm.report(spark, s"$dir/state", "user_id")
      .select("user_id", "frequency").as[(Long, Long)].collect().toMap
    assert(replayed(1L) === 3L, "replay must not double-count")
    // compaction folds the tail and preserves the totals
    StreamingRfm.compactState(spark, s"$dir/state", "user_id")
    val compacted = StreamingRfm.report(spark, s"$dir/state", "user_id")
      .select("user_id", "recency_ns", "frequency", "monetary")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(compacted === got)
  }

  test("streaming fuzzy decontamination: drained kept set equals the batch " +
      "operator, replay overwrites its own partition, bench stays static") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("stream_fuzzy")
    val mk = (s: String) => s"$s shared core sentence with many common words here"
    val docs = Seq(
      (1L, mk("alpha"), "en"), (2L, mk("beta"), "en"),
      (3L, "totally different content nothing shared at all", "de"),
      (4L, mk("gamma"), "fr"),
      (5L, "another fully unrelated line of words over here", "en"))
      .toDF("doc_id", "text", "lang")
    val bench = Seq((100L, mk("alpha"))).toDF("doc_id", "text")
    // two micro-batches
    val stream = StreamHarness.feed(dir,
      docs.filter($"doc_id" <= 2),
      docs.filter($"doc_id" > 2))
    val q = StreamingFuzzyDecontaminate.start(stream, bench,
      "doc_id", "text", s"$dir/kept", s"$dir/cp", threshold = 0.6)
    StreamHarness.drain("stream_fuzzy", q)
    val got = StreamingFuzzyDecontaminate.kept(spark, s"$dir/kept")
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    val want = graft.operators.Dedup
      .fuzzyDecontaminate(docs, bench, "doc_id", "text", threshold = 0.6)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(got === want, "drained kept set must equal the batch operator")
    assert(got.exists(_._1 == 3L) && !got.exists(_._1 == 1L),
      "both verdicts must be exercised")
    // replay: re-driving batch 0 through the production path only
    // replaces batch 0's partition — the drained set is unchanged
    val benchBuckets = graft.operators.Dedup
      .lshBuckets(bench, "doc_id", "text", 5, 16, 4)
      .select(col("__band"), col("__bandkey"), col("doc_id").as("__id"))
    val benchSets = graft.operators.Dedup
      .shingleSetsOf(bench, "doc_id", "text", 5, "idB", "__shB")
    StreamingFuzzyDecontaminate.processBatch(docs.filter($"doc_id" <= 2), 0L,
      benchBuckets, benchSets, "doc_id", "text", s"$dir/kept",
      0.6, 5, 16, 4, 1000)
    val replayed = StreamingFuzzyDecontaminate.kept(spark, s"$dir/kept")
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(replayed === want, "replay must be idempotent")
  }

  test("streaming rolling actives: drained report equals the batch " +
      "operator, replays are exact, only affected days re-emit") {
    import spark.implicits._
    val dir = tempDir("sra")
    def ns(day: Long) = day * 86400L * 1000000000L + 5L
    val b0 = Seq((ns(0), 1L), (ns(0), 2L), (ns(1), 1L))
      .toDF("ts_ns", "user_id")
    val b1 = Seq((ns(1), 3L), (ns(9), 1L), (ns(0), 1L)) // (0,1) is a repeat
      .toDF("ts_ns", "user_id")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingRollingActives.processBatch(b, id, "user_id", "ts_ns",
        s"$dir/pairs", s"$dir/report", 7)
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingRollingActives.report(spark, s"$dir/report")
      .as[(Long, Long)].collect().toMap
    val want = graft.operators.Events.rollingActiveUsers(
        b0.unionByName(b1), "user_id", "ts_ns", 7)
      .as[(Long, Long)].collect().toMap
    assert(want === Map(0L -> 2L, 1L -> 3L, 9L -> 1L), "batch truth sanity")
    assert(rep() === want)
    // batch 1 re-emitted only days its NEW pairs affect: day 0's repeat
    // pair is not new, so day 0 must NOT be in batch 1's partition
    val b1days = spark.read.parquet(s"$dir/report/batch=1")
      .select("day").as[Long].collect().toSet
    assert(b1days === Set(1L, 9L), b1days)
    // crash-replay of batch 1: report and state unchanged
    run(b1, 1L)
    assert(rep() === want, "replay drifted")
    val pairs = LsmParquetState.snapshot(spark, s"$dir/pairs",
      StreamingRollingActives.layout)
    assert(pairs.count() === 5L, "replay appended duplicate pairs")
    assert(pairs.distinct().count() === 5L)
  }

  test("streaming interval coverage: cross-batch merges through persisted " +
      "block state, drained report equals the batch g14 sweep, replays and " +
      "compaction are exact, untouched keys do not re-emit") {
    import spark.implicits._
    val dir = tempDir("sic")
    // user 1: batch 0 plants [0,10] and [20,30]; batch 1's [5,25] BRIDGES
    // them (the cross-batch merge only state can see); user 2 exists only
    // in batch 0; user 3 only in batch 1 (with a degenerate interval)
    val b0 = Seq((1L, 0L, 10L), (1L, 20L, 30L), (2L, 100L, 104L))
      .toDF("user_id", "s_us", "e_us")
    val b1 = Seq((1L, 5L, 25L), (3L, 50L, 40L))
      .toDF("user_id", "s_us", "e_us")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingIntervalCoverage.processBatch(b, id, "user_id", "s_us",
        "e_us", s"$dir/blocks", s"$dir/report")
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingIntervalCoverage.report(spark, s"$dir/report")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = graft.operators.Events.intervalCoverage(
        b0.unionByName(b1), "user_id", "s_us", "e_us")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(want === Map(1L -> ((3L, 30L, 1L)), 2L -> ((1L, 4L, 1L)),
      3L -> ((1L, 0L, 1L))), "batch truth sanity: [5,25] bridges to [0,30]")
    assert(rep() === want)
    // untouched user 2 must not re-emit in batch 1's partition
    val b1users = spark.read.parquet(s"$dir/report/batch=1")
      .select("user").as[Long].collect().toSet
    assert(b1users === Set(1L, 3L), b1users)
    // crash-replay of batch 1: report and state unchanged (the tail
    // override is batch-keyed, n_intervals must not double-count)
    run(b1, 1L)
    assert(rep() === want, "replay drifted")
    // state holds ONE latest row per key with merged blocks
    val state = StreamingIntervalCoverage.report(spark, s"$dir/report")
    assert(state.select("user").distinct().count() === 3L)
    // compaction folds the overrides and changes nothing observable
    StreamingIntervalCoverage.compactState(spark, s"$dir/blocks")
    run(Seq((3L, 45L, 47L)).toDF("user_id", "s_us", "e_us"), 2L)
    assert(rep() === (want + (3L -> ((2L, 2L, 2L)))),
      "post-compaction batch must see the folded state")
  }

  test("streaming interval coverage refuses a pathological key loudly: a " +
      "key whose merged disjoint blocks exceed maxBlocksPerKey fails the " +
      "batch with a diagnostic BEFORE the fat row lands in state") {
    import spark.implicits._
    val dir = tempDir("sic_cap")
    // key 7: disjoint micro-intervals (gap 1 apart) -> one block each;
    // key 1 stays human-scale and must survive the same batches
    def run(b: org.apache.spark.sql.DataFrame, id: Long, cap: Int): Unit =
      StreamingIntervalCoverage.processBatch(b, id, "user_id", "s_us",
        "e_us", s"$dir/blocks", s"$dir/report", maxBlocksPerKey = cap)
    val b0 = ((0L until 8L).map(i => (7L, i * 2, i * 2 + 1)) :+
      ((1L, 0L, 100L))).toDF("user_id", "s_us", "e_us")
    run(b0, 0L, cap = 10) // 8 blocks for key 7: under the cap, fine
    val b1 = (8L until 16L).map(i => (7L, i * 2, i * 2 + 1))
      .toDF("user_id", "s_us", "e_us")
    val e = intercept[IllegalStateException](run(b1, 1L, cap = 10))
    assert(e.getMessage.contains("7") &&
      e.getMessage.contains("maxBlocksPerKey"), e.getMessage)
    // the refused batch must not have polluted state: a re-run with a
    // sufficient cap lands the same totals the batch operator computes
    run(b1, 1L, cap = 100)
    val want = graft.operators.Events.intervalCoverage(
        b0.unionByName(b1), "user_id", "s_us", "e_us")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val got = StreamingIntervalCoverage.report(spark, s"$dir/report")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === want, "recovery after a refused batch must stay exact")
    assert(want(7L)._3 === 16L, "fixture sanity: 16 disjoint blocks")
  }

  test("streaming burstiness: boundary gaps bridge batches through " +
      "persisted last_t, drained report equals the batch g15, replays are " +
      "exact, and out-of-order ingest throws the monotone contract") {
    import spark.implicits._
    val dir = tempDir("sbu")
    // user 1: in-batch gap 5 then a cross-batch boundary gap 10;
    // user 2: single event in b0, its FIRST gap only exists via state
    val b0 = Seq((1L, 0L, 1L), (1L, 5L, 2L), (2L, 100L, 3L))
      .toDF("user_id", "ts_us", "event_id")
    val b1 = Seq((1L, 15L, 4L), (2L, 103L, 5L))
      .toDF("user_id", "ts_us", "event_id")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingBurstiness.processBatch(b, id, "user_id", "ts_us",
        "event_id", s"$dir/state", s"$dir/report")
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingBurstiness.report(spark, s"$dir/report")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val want = graft.operators.Events.burstiness(
        b0.unionByName(b1), "user_id", "ts_us", "event_id")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // user 1: gaps [5, 10] -> D = 2*125 - 225 = 25, cv = 5/15, B = -0.5
    assert(want === Map(
      1L -> ((2L, 7L, 0.333333, -0.5)),
      2L -> ((1L, 3L, 0.0, -1.0))), "batch truth sanity")
    assert(rep() === want)
    // crash-replay of batch 1: report and state unchanged
    run(b1, 1L)
    assert(rep() === want, "replay drifted (moments double-counted)")
    // out-of-order ingest: an event BEFORE user 2's persisted last_t
    val err = intercept[IllegalStateException] {
      run(Seq((2L, 50L, 6L)).toDF("user_id", "ts_us", "event_id"), 2L)
    }
    assert(err.getMessage.contains("monotone"))
    // compaction folds overrides; the next batch sees folded state
    StreamingBurstiness.compactState(spark, s"$dir/state")
    run(Seq((1L, 25L, 7L)).toDF("user_id", "ts_us", "event_id"), 3L)
    // user 1 gaps [5, 10, 10]: S = 25, sumsq = 225, D = 3*225 - 625 = 50
    val d = math.sqrt(50.0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rep() === (want + (1L -> ((3L, 8L, r6(d / 25.0),
      r6((d - 25.0) / (d + 25.0)))))))
  }

  test("streaming k-anonymity: counts accumulate latest-wins, distinct " +
      "sensitive values through membership facts, a class crosses the k " +
      "threshold mid-stream, replays and compaction are exact") {
    import spark.implicits._
    val dir = tempDir("ska")
    val b0 = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("B", "x"))
      .toDF("zip", "disease")
    val b1 = Seq(("A", "z"), ("B", "x")).toDF("zip", "disease")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingKAnonymity.processBatch(df, id, Seq("zip"), "disease",
        k = 4L, l = 3L, s"$dir/pairs", s"$dir/counts", s"$dir/report")
    run(b0, 0L)
    // after batch 0, A is NOT yet k-anonymous (3 rows < 4)
    val mid = StreamingKAnonymity.report(spark, s"$dir/report", Seq("zip"))
      .as[(String, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(mid("A") === ((3L, 2L, false, false)))
    run(b1, 1L)
    def rep() = StreamingKAnonymity
      .report(spark, s"$dir/report", Seq("zip"))
      .as[(String, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val want = graft.operators.Governance.kAnonymityAudit(
        b0.unionByName(b1), Seq("zip"), "disease", 4L, 3L)
      .as[(String, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(want === Map("A" -> ((4L, 3L, true, true)),
      "B" -> ((2L, 1L, false, false))), "batch truth sanity")
    assert(rep() === want, "A crossed the threshold in batch 1")
    // crash-replay of batch 1: counts must not double, facts must not dup
    run(b1, 1L)
    assert(rep() === want, "replay drifted")
    StreamingKAnonymity.compactState(spark, s"$dir/pairs", s"$dir/counts",
      Seq("zip"))
    run(Seq(("A", "x")).toDF("zip", "disease"), 2L)
    assert(rep() === (want + ("A" -> ((5L, 3L, true, true)))),
      "post-compaction batch must see folded counts and facts")
  }

  test("streaming k-anonymity null contract: a NULL quasi-id class keeps " +
      "its own cumulative counters across batches and null-sensitive rows " +
      "never count as membership facts — drained == batch audit") {
    import spark.implicits._
    val dir = tempDir("ska_null")
    // null zip = its own auditable class (the v03 contract); null
    // disease = a row with NO membership fact (countDistinct semantics)
    val b0 = Seq((null, "x"), (null, null), ("A", null), ("A", "x"))
      .toDF("zip", "disease")
    val b1 = Seq((null, "x"), (null, "y"), ("A", null))
      .toDF("zip", "disease")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingKAnonymity.processBatch(df, id, Seq("zip"), "disease",
        k = 3L, l = 2L, s"$dir/pairs", s"$dir/counts", s"$dir/report")
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingKAnonymity
      .report(spark, s"$dir/report", Seq("zip"))
      .as[(Option[String], Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val want = graft.operators.Governance.kAnonymityAudit(
        b0.unionByName(b1), Seq("zip"), "disease", 3L, 2L)
      .as[(Option[String], Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // null class: 4 rows, sensitive {x, y}; A: 3 rows, sensitive {x} —
    // a null-unsafe prior join would reset the null class to batch-local
    // counts, and appending null-sensitive facts would inflate A
    assert(want === Map(
      None -> ((4L, 2L, true, true)),
      Some("A") -> ((3L, 1L, true, false))), "batch truth sanity")
    assert(rep() === want, "drained must equal the batch audit with nulls")
    // replay: the (null, "x") fact must not re-append (null-safe anti-join)
    run(b1, 1L)
    assert(rep() === want, "replay drifted on null-keyed facts")
  }

  test("streaming survival: lifetime bounds extend across OUT-OF-ORDER " +
      "batches (no time contract — min/max merge is associative), drained " +
      "curve equals the batch g17, replays and compaction are exact") {
    import spark.implicits._
    val dir = tempDir("ssv")
    // user 1's LAST event arrives before its FIRST (deliberate disorder);
    // user 2 exists in one batch; user 3 spans both
    val b0 = Seq((1L, 90L), (3L, 0L), (3L, 40L)).toDF("user_id", "ts_us")
    val b1 = Seq((1L, 10L), (2L, 95L), (3L, 100L)).toDF("user_id", "ts_us")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingSurvival.processBatch(b, id, "user_id", "ts_us",
        s"$dir/state")
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingSurvival.report(spark, s"$dir/state",
        censorHorizon = 20L)
      .as[(Long, Long, Long, Long, Double, Option[Double])].collect().toSet
    def want(df: org.apache.spark.sql.DataFrame) = graft.operators.Events
      .survivalCurve(df, "user_id", "ts_us", censorHorizon = 20L)
      .as[(Long, Long, Long, Long, Double, Option[Double])].collect().toSet
    val all = b0.unionByName(b1)
    assert(rep() === want(all), "drained curve != batch g17")
    // crash-replay of the last batch: bounds must not drift
    run(b1, 1L)
    assert(rep() === want(all), "replay drifted")
    StreamingSurvival.compactState(spark, s"$dir/state")
    run(Seq((2L, 120L)).toDF("user_id", "ts_us"), 2L)
    assert(rep() === want(all.unionByName(
      Seq((2L, 120L)).toDF("user_id", "ts_us"))),
      "post-compaction batch must see folded bounds")
  }

  test("streaming PR/calibration drift: per-score counts accumulate " +
      "additively, every batch emits both reports over the cumulative " +
      "history through the shared batch-eval code, replays and compaction " +
      "are exact") {
    import spark.implicits._
    val dir = tempDir("spr")
    // scores with cross-batch repeats and ties; labels imbalanced
    val b0 = Seq((0.95, 1), (0.95, 0), (0.40, 0), (0.80, 1))
      .toDF("score", "y")
    val b1 = Seq((0.95, 1), (0.40, 0), (0.10, 0), (0.80, 0))
      .toDF("score", "y")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingPrDrift.processBatch(b, id, "score", "y",
        s"$dir/state", s"$dir/report")
    run(b0, 0L)
    // mid-stream: batch-0 emission equals the batch evals over b0 alone
    def prAt() = StreamingPrDrift.prReport(spark, s"$dir/report")
      .as[(Double, Double, Long, Long)].head()
    def calAt() = StreamingPrDrift
      .calibrationReport(spark, s"$dir/report")
      .as[(Int, Long, Double, Long, Double)].collect().toSet
    def wantPr(df: org.apache.spark.sql.DataFrame) =
      graft.operators.CorpusStats.prAuc(df, "score", "y")
        .as[(Double, Double, Long, Long)].head()
    def wantCal(df: org.apache.spark.sql.DataFrame) =
      graft.operators.CorpusStats.calibrationBins(df, "score", "y")
        .as[(Int, Long, Double, Long, Double)].collect().toSet
    assert(prAt() === wantPr(b0) && calAt() === wantCal(b0),
      "batch-0 emission must equal the batch evals over batch 0")
    run(b1, 1L)
    val all = b0.unionByName(b1)
    assert(prAt() === wantPr(all), "drained PR-AUC != batch t48 semantics")
    assert(calAt() === wantCal(all), "drained calibration != batch t42")
    // crash-replay of the last batch: counts must not double
    run(b1, 1L)
    assert(prAt() === wantPr(all) && calAt() === wantCal(all),
      "replay drifted")
    StreamingPrDrift.compactState(spark, s"$dir/state")
    run(Seq((0.95, 0)).toDF("score", "y"), 2L)
    val all2 = all.unionByName(Seq((0.95, 0)).toDF("score", "y"))
    assert(prAt() === wantPr(all2) && calAt() === wantCal(all2),
      "post-compaction batch must see folded counts")
  }

  test("streaming transition entropy: boundary pairs bridge batches " +
      "through per-user state, drained report equals the batch g18, " +
      "contract violations throw, replays and compaction are exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = tempDir("ste")
    val cols = Seq("user_id", "event_type", "ts_us", "event_id")
    val b0 = Seq((1L, "a", 1L, 10L), (1L, "b", 2L, 11L))
      .toDF(cols: _*)
    // user 1 continues (boundary pair b->a); user 2 is new (pair c->c)
    val b1 = Seq((1L, "a", 3L, 12L), (2L, "c", 1L, 13L), (2L, "c", 2L, 14L))
      .toDF(cols: _*)
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingTransitionEntropy.processBatch(df, id, "user_id",
        "event_type", "ts_us", "event_id", s"$dir/state", s"$dir/report")
    def rep() = StreamingTransitionEntropy.report(spark, s"$dir/report")
      .as[(String, Long, Long, Double, Option[Double])].collect().toSet
    def want(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val tr = df.withColumn("__to", lead(col("event_type"), 1).over(w))
        .filter(col("__to").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("__to").as("to_type"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Events.transitionEntropy(tr, "from_type", "n")
        .as[(String, Long, Long, Double, Option[Double])].collect().toSet
    }
    run(b0, 0L)
    assert(rep() === want(b0), "batch-0 emission != batch g18 over b0")
    run(b1, 1L)
    val all = b0.unionByName(b1)
    assert(rep() === want(all), "drained entropy != batch g18 (the " +
      "boundary pair b->a must have bridged the batches)")
    // crash-replay of the last batch: counts must not double
    run(b1, 1L)
    assert(rep() === want(all), "replay drifted")
    // contract: an event at (or before) its key's persisted (t, i) throws
    intercept[IllegalStateException] {
      run(Seq((1L, "z", 3L, 12L)).toDF(cols: _*), 2L)
    }
    assert(rep() === want(all), "a rejected batch must not mutate state")
    StreamingTransitionEntropy.compactState(spark, s"$dir/state")
    val b2 = Seq((1L, "b", 4L, 15L)).toDF(cols: _*)
    run(b2, 2L)
    assert(rep() === want(all.unionByName(b2)),
      "post-compaction batch must see folded counts and user state")
  }

  test("streaming BM25: the inverted index accumulates across batches, " +
      "every batch answers the fixed panel over the cumulative index " +
      "through the shared scoring tail, replays and compaction are exact") {
    import spark.implicits._
    val dir = tempDir("sbm")
    val b0 = Seq((1L, "apple banana cherry"), (2L, "apple apple durian"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "banana banana banana"), (4L, "unique quince zebra"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "apple banana"), (20L, "quince"))
      .toDF("qid", "qtext")
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingBm25.processBatch(b, id, "doc_id", "text", queries,
        "qid", "qtext", s"$dir/state", s"$dir/report", k = 5,
        maxDfFrac = 1.0)
    def rep() = StreamingBm25.report(spark, s"$dir/report")
      .as[(Long, Long, Int, Double)].collect().toSet
    def want(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.bm25TopK(df, queries, "doc_id", "text",
          "qid", "qtext", k = 5, maxDfFrac = 1.0)
        .as[(Long, Long, Int, Double)].collect().toSet
    run(b0, 0L)
    // mid-stream: batch-0 answers equal the batch operator over b0 alone
    // (query 20 has no match yet — absent, exactly like the batch op)
    assert(rep() === want(b0), "batch-0 panel != batch bm25TopK over b0")
    run(b1, 1L)
    val all = b0.unionByName(b1)
    // cross-batch: doc 3 re-ranks query 10 (df/avgdl/N all shift) and
    // query 20 becomes answerable — must equal the batch truth
    assert(rep() === want(all), "drained panel != batch bm25TopK")
    // crash-replay of the last batch: postings and scalars must not double
    run(b1, 1L)
    assert(rep() === want(all), "replay drifted")
    StreamingBm25.compactState(spark, s"$dir/state")
    val b2 = Seq((5L, "apple quince")).toDF("doc_id", "text")
    run(b2, 2L)
    assert(rep() === want(all.unionByName(b2)),
      "post-compaction batch must see folded postings")
  }

  test("streaming chunk dedup: cross-batch duplicates dedup through the " +
      "persisted chunk-key store, drained report equals the batch m08, " +
      "replays and compaction are exact") {
    import spark.implicits._
    val dir = tempDir("scd")
    val rnd = new scala.util.Random(11)
    val a = Array.fill[Byte](2048)((rnd.nextInt(256) - 128).toByte)
    val b = Array.fill[Byte](2048)((rnd.nextInt(256) - 128).toByte)
    val b0 = Seq((1L, a)).toDF("media_id", "content")
    val b1 = Seq((2L, a), (3L, b)).toDF("media_id", "content") // 2 repeats a
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingChunkDedup.processBatch(df, id, "media_id", "content",
        s"$dir/chunks", s"$dir/report", 32, 6, 256)
    run(b0, 0L)
    run(b1, 1L)
    def rep() = StreamingChunkDedup.report(spark, s"$dir/report")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    val want = graft.operators.Multimodal.payloadChunkDedup(
        b0.unionByName(b1), "media_id", "content")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(rep() === want)
    assert(want._5 === want._2 - 2048L,
      s"the repeated payload must dedup away exactly once: $want")
    // batch 1's delta must show zero new uniques for the repeated doc's
    // chunks (they hit the persisted store)
    val d1 = spark.read.parquet(s"$dir/report/batch=1")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(d1._4 < d1._3, s"some of batch 1's chunks were already seen: $d1")
    // crash-replay of batch 1: totals unchanged (deltas are overwritten,
    // the anti-join excludes this batch's own tail)
    run(b1, 1L)
    assert(rep() === want, "replay double-counted")
    StreamingChunkDedup.compactState(spark, s"$dir/chunks")
    run(Seq((4L, a)).toDF("media_id", "content"), 2L)
    val after = rep()
    assert(after._1 === want._1 + 1 && after._5 === want._5,
      "a post-compaction repeat adds bytes but zero unique bytes")
  }

  test("streaming pHash dedup: cross-batch pairs surface through the " +
      "persisted band index, within-batch pairs in their own batch, " +
      "replay is idempotent, compaction preserves later probes, the " +
      "skew guard drops hot buckets with an observed metric") {
    import spark.implicits._
    val dir = tempDir("e33_spec")
    val rnd = new scala.util.Random(41)
    def grid(): Seq[Int] = Seq.fill(1024)(rnd.nextInt(256))
    val g1 = grid(); val g2 = grid(); val g3 = grid()
    def bright(g: Seq[Int]) = g.map(p => math.min(p + 3, 255))
    // batch 0: asset 1, its brightness twin 2 (WITHIN-batch pair), and
    // unrelated 3; batch 1: 4 = twin of 1 (CROSS-batch via the index)
    val b0 = Seq((1L, g1), (2L, bright(g1)), (3L, g2))
      .toDF("id", "pixels")
    val b1 = Seq((4L, bright(g1)), (5L, g3)).toDF("id", "pixels")
    def run(df: org.apache.spark.sql.DataFrame, id: Long,
        cap: Int = 1000): Unit =
      StreamingPHashDedup.processBatch(df, id, "id", "pixels",
        s"$dir/index", s"$dir/pairs", maxHamming = 12,
        maxBucketSize = cap)
    run(b0, 0L)
    run(b1, 1L)
    def drained() = StreamingPHashDedup.pairs(spark, s"$dir/pairs")
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    // the batch operator over everything is the contract
    val want = graft.operators.Multimodal.pHashPairs(
        graft.operators.Multimodal.pHash64(
          b0.unionByName(b1), "id", "pixels"), "id", "phash",
        maxHamming = 12, maxBucketSize = 1000)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    assert(drained() === want, s"drained != batch: ${drained()} vs $want")
    assert(want.contains((1L, 2L)) && want.contains((1L, 4L)),
      s"fixture must carry a within-batch AND a cross-batch pair: $want")
    val perBatch = spark.read.parquet(s"$dir/pairs")
      .select("batch", "idA", "idB")
      .as[(Long, Long, Long)].collect().toSet
    assert(perBatch.contains((0L, 1L, 2L)),
      "the within-batch pair lands in its own batch")
    assert(perBatch.contains((1L, 1L, 4L)),
      "the cross-batch pair lands in its later member's batch")
    // crash replay: batch 1 re-runs against its pre-state exactly
    run(b1, 1L)
    assert(drained() === want, "replay drifted the pair set")
    // compaction folds the tail; a later batch still probes everything
    StreamingPHashDedup.compactState(spark, s"$dir/index")
    run(Seq((6L, bright(g3))).toDF("id", "pixels"), 2L)
    assert(drained().contains((5L, 6L)),
      "a post-compaction batch must still find pre-compaction assets")
    // hot-bucket guard: an identical-signature crowd OVER the cap drops
    // (observed), so the probe stays sub-quadratic — crowd pairs absent
    val crowd = (100L to 140L).map(i => (i, g1)).toDF("id", "pixels")
    run(crowd, 3L, cap = 10)
    val withCrowd = drained()
    assert(!withCrowd.contains((100L, 101L)),
      "an over-cap signature crowd must drop under the guard")
  }

  test("streaming audio fingerprints: cross-batch pairs align through the " +
      "persisted landmark index at the true offset, within-batch " +
      "alignment counts match the batch operator exactly (no " +
      "double-probe doubling), replay and compaction are exact") {
    import spark.implicits._
    val dir = tempDir("e34_spec")
    val rnd = new scala.util.Random(43)
    val base = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    val pad = Array.fill[Byte](32)('P'.toByte)
    val other = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    // batch 0: asset 1 and its shifted twin 2 (WITHIN-batch) + 3;
    // batch 1: 4 = shifted twin of 1 (CROSS-batch), 5 unrelated-ish
    val b0 = Seq((1L, base), (2L, pad ++ base), (3L, other))
      .toDF("media_id", "content")
    val b1 = Seq((4L, pad ++ base), (5L, Array.fill[Byte](320)(65.toByte)))
      .toDF("media_id", "content")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingAudioFingerprint.processBatch(df, id, "media_id",
        "content", s"$dir/index", s"$dir/pairs", windowBytes = 16,
        fanout = 3, zone = 16, minAligned = 3, maxHashGroup = 10000)
    run(b0, 0L)
    run(b1, 1L)
    def drained() = StreamingAudioFingerprint
      .pairs(spark, s"$dir/pairs")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val want = graft.operators.Multimodal.audioFingerprintPairs(
        b0.unionByName(b1), "media_id", "content", windowBytes = 16,
        fanout = 3, zone = 16, minAligned = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // the equality is EXACT including alignment counts — the
    // within-batch (1,2) pair would double its n_aligned if both
    // members' probes counted the same landmark pair
    assert(drained() === want, s"drained != batch: ${drained()} vs $want")
    assert(want.contains((1L, 2L)) && want.contains((1L, 4L)),
      s"fixture must carry within-batch AND cross-batch pairs: $want")
    assert(want((1L, 4L))._1 === 2L,
      "the cross-batch twin must align at the 2-window shift")
    // replay: batch 1 recomputes against its pre-state exactly
    run(b1, 1L)
    assert(drained() === want, "replay drifted the pair set")
    // compaction folds the landmark tail; later batches still align
    StreamingAudioFingerprint.compactState(spark, s"$dir/index")
    run(Seq((6L, pad ++ other)).toDF("media_id", "content"), 2L)
    assert(drained().get((3L, 6L)).exists(_._1 == 2L),
      "a post-compaction batch must align against pre-compaction assets")
  }

  test("streaming clip alignment: a cross-batch clip aligns through the " +
      "persisted frame-digest index at exactly the cut, within-batch " +
      "pairs match the batch operator exactly, replay and compaction " +
      "are exact") {
    import spark.implicits._
    val dir = tempDir("e37_spec")
    val rnd = new scala.util.Random(53)
    val base = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    val clip = base.drop(160) // drops frames 0..9
    val other = Array.fill[Byte](640)((rnd.nextInt(96) + 32).toByte)
    // batch 0: source 1 and its clip 2 (WITHIN-batch) + unrelated 3;
    // batch 1: 4 = another clip of 1 (CROSS-batch), 5 unrelated
    val b0 = Seq((1L, base), (2L, clip), (3L, other))
      .toDF("media_id", "content")
    val b1 = Seq((4L, base.drop(320)),
      (5L, Array.fill[Byte](320)((rnd.nextInt(96) + 32).toByte)))
      .toDF("media_id", "content")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingClipAlign.processBatch(df, id, "media_id", "content",
        s"$dir/index", s"$dir/pairs", frameBytes = 16, minAligned = 3,
        maxDigestGroup = 10000)
    run(b0, 0L)
    run(b1, 1L)
    def drained() = StreamingClipAlign.pairs(spark, s"$dir/pairs")
      .as[(Long, Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val want = graft.operators.Multimodal.videoClipAlign(
        b0.unionByName(b1), "media_id", "content", frameBytes = 16,
        minAligned = 3)
      .as[(Long, Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(drained() === want, s"drained != batch: ${drained()} vs $want")
    assert(want((1L, 2L)) === ((-10, 30L)) && want((1L, 4L)) === ((-20, 20L)),
      s"fixture must carry within- and cross-batch clips at their cuts: $want")
    // the two clips of the same source also align with EACH OTHER
    assert(want((2L, 4L)) === ((-10, 20L)), s"clip-clip alignment off: $want")
    // replay: batch 1 recomputes against its pre-state exactly
    run(b1, 1L)
    assert(drained() === want, "replay drifted the pair set")
    // compaction folds the digest tail; later batches still align
    StreamingClipAlign.compactState(spark, s"$dir/index")
    run(Seq((6L, other.drop(160))).toDF("media_id", "content"), 2L)
    assert(drained().get((3L, 6L)).exists(_ == ((-10, 30L))),
      "a post-compaction batch must align against pre-compaction assets")
  }

  test("streaming t-closeness: threshold crossing flags the drifting " +
      "class at its touching batch, drained report equals the batch " +
      "audit, replay is idempotent, compaction preserves the report, " +
      "null classes and null sensitive follow the batch contract") {
    import spark.implicits._
    val dir = tempDir("e31_spec")
    // batch 1: A balanced over {x, y}; B is the large balanced ANCHOR
    // class (a small class can only drift from a global it does not
    // itself dominate); global = x:22, y:21
    val b1 = (Seq(
      (Some("A"), Some("x")), (Some("A"), Some("y")),
      // null sensitive carries no mass (the v04 contract)
      (Some("A"), None),
      // a NULL quasi class is its own auditable class
      (None, Some("x"))) ++
      (1 to 20).flatMap(_ => Seq((Some("B"), Some("x")),
        (Some("B"), Some("y"))))).toDF("zip", "diag")
    // batch 2: A drifts hard toward x — it must cross t; B is untouched
    val b2 = (1 to 6).map(_ => (Some("A"), Some("x"))).toDF("zip", "diag")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingTCloseness.processBatch(df, id, Seq("zip"), "diag",
        t = 0.2, ordered = false, s"$dir/vals", s"$dir/global",
        s"$dir/report")
    run(b1, 0L)
    val r0 = spark.read.parquet(s"$dir/report/batch=0")
      .as[(Option[String], Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // A vs (22/43, 21/43): exact integer route 2/172 = 0.011627907
    assert(r0(Some("A")) === ((2L, 0.011627907, true)),
      s"A starts near the global: ${r0(Some("A"))}")
    // the all-x null class: 42/86 = 0.488372093 — audited, and far
    assert(r0(None) === ((1L, 0.488372093, false)),
      s"the null class must report: ${r0(None)}")
    run(b2, 1L)
    val r1 = spark.read.parquet(s"$dir/report/batch=1")
      .as[(Option[String], Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(r1.keySet === Set(Some("A")),
      "only the touched class re-emits at its touching batch")
    assert(r1(Some("A"))._1 === 8L && !r1(Some("A"))._3,
      s"A must cross the t bound when it drifts: ${r1(Some("A"))}")
    // drained report == the batch audit over everything streamed
    def drained() = StreamingTCloseness.report(spark, s"$dir/vals",
        s"$dir/global", Seq("zip"), t = 0.2)
      .as[(Option[String], Long, Double, Boolean)].collect().toSet
    val want = graft.operators.Governance.tClosenessAudit(
        b1.unionByName(b2), Seq("zip"), "diag", t = 0.2)
      .as[(Option[String], Long, Double, Boolean)].collect().toSet
    assert(drained() === want, s"drained != batch: ${drained()} vs $want")
    // crash-replay of batch 1: state unchanged (batch-keyed tails are
    // overwritten; the exclude-own-batch scan sees only prior state)
    run(b2, 1L)
    assert(drained() === want, "replay double-counted")
    // compaction folds tails latest-wins; the report is unchanged
    StreamingTCloseness.compactState(spark, s"$dir/vals", s"$dir/global",
      Seq("zip"))
    assert(drained() === want, "compaction changed the report")
  }

  test("streaming NB training: drained merge-on-read model equals batch " +
      "train under cross-batch token overlap; compaction is invisible") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("snb")
    // 'buy' counts split across batches; 'friend' only in batch 2 —
    // both the summed-delta and the new-token paths are exercised
    val b1 = Seq(("spam", "buy now buy"), ("ham", "hello there"))
    val b2 = Seq(("spam", "buy cheap"), ("ham", "hello friend"))
    val cols = Seq("label", "text")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingNbTrain.start(stream, "text", "label",
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("snb", q)
    def model() = StreamingNbTrain.currentModel(spark, s"$dir/state", "label")
      .as[(String, String, Long, Double)].collect().sorted.toSeq
    val batchTruth = graft.operators.TextAnalysis.naiveBayesTrain(
        (b1 ++ b2).toDF(cols: _*), "text", "label")
      .as[(String, String, Long, Double)].collect().sorted.toSeq
    assert(model() === batchTruth, "drained model drifted from batch train")
    // the cross-batch sum actually happened: buy = 2 + 1
    assert(model().find(r => r._1 == "spam" && r._2 == "buy")
      .map(_._3) === Some(3L))
    // compaction: one summed row per (label, token), model unchanged
    StreamingNbTrain.compactState(spark, s"$dir/state")
    assert(!new java.io.File(s"$dir/state/tail").exists(),
      "compaction must fold the tail")
    val stored = StreamingNbTrain.storedCounts(spark, s"$dir/state")
    assert(stored.count() === stored.select("__lbl", "__tok").distinct().count(),
      "compaction left multiple delta rows for a (label, token)")
    assert(model() === batchTruth, "compaction changed the model")
  }

  test("streaming NB training replay idempotence: a replayed in-flight " +
      "batch (including batch 0) never double-counts") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("snb_replay")
    val b1 = Seq(("spam", "buy now"), ("ham", "hello"))
    val b2 = Seq(("spam", "buy"))
    val cols = Seq("label", "text")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingNbTrain.start(stream, "text", "label",
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("snb_replay", q)
    def counts() = StreamingNbTrain.storedCounts(spark, s"$dir/state")
      .as[(String, String, Long)].collect().sorted.toSeq
    val c0 = counts()
    assert(c0.contains(("spam", "buy", 2L)), s"cross-batch sum missing: $c0")
    // replay BOTH batches through the production path — count deltas are
    // not idempotent by value, so the batch-keyed overwrite is the only
    // thing standing between a replay and a corrupted model
    StreamingNbTrain.processBatch(b1.toDF(cols: _*), 0L, "text", "label",
      s"$dir/state")
    StreamingNbTrain.processBatch(b2.toDF(cols: _*), 1L, "text", "label",
      s"$dir/state")
    assert(counts() === c0, "replay double-counted the deltas")
  }

  test("streaming classifier eval: drained merge-on-read report equals " +
      "batch classifierEval; replays and compaction are invisible") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sceval")
    // class 'a' splits its tp/fp across batches; 'c' appears only in
    // batch 2 — both the summed-delta and the new-class paths exercise
    val b1 = Seq(("a", "a"), ("a", "b"), ("b", "b"))
    val b2 = Seq(("a", "a"), ("b", "c"), ("c", "c"))
    val cols = Seq("truth", "pred")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingClassifierEval.start(stream, "truth", "pred",
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("sceval", q)
    def report() = StreamingClassifierEval.currentEval(spark, s"$dir/state")
      .collect().map(_.toString).sorted.toSeq
    val batchTruth = graft.operators.CorpusStats.classifierEval(
        (b1 ++ b2).toDF(cols: _*), "truth", "pred")
      .collect().map(_.toString).sorted.toSeq
    assert(report() === batchTruth, "drained report drifted from batch eval")
    // the cross-batch sum actually happened: a's tp = 1 + 1
    val aTp = StreamingClassifierEval.currentEval(spark, s"$dir/state")
      .filter(col("label") === "a").select("tp").as[Long].head()
    assert(aTp === 2L, "cross-batch confusion sum missing")
    // replay both batches through the production path
    StreamingClassifierEval.processBatch(b1.toDF(cols: _*), 0L, "truth",
      "pred", s"$dir/state")
    StreamingClassifierEval.processBatch(b2.toDF(cols: _*), 1L, "truth",
      "pred", s"$dir/state")
    assert(report() === batchTruth, "replay double-counted the confusion")
    // compaction: one summed row per (truth, pred), report unchanged
    StreamingClassifierEval.compactState(spark, s"$dir/state")
    assert(!new java.io.File(s"$dir/state/tail").exists(),
      "compaction must fold the tail")
    val stored = StreamingClassifierEval.storedConfusion(spark, s"$dir/state")
    assert(stored.count() === stored.select("__t", "__p").distinct().count(),
      "compaction left multiple delta rows for a (truth, pred) pair")
    assert(report() === batchTruth, "compaction changed the report")
  }

  test("streaming LR training: drained model equals batch logRegTrain " +
      "under any batching; compaction is invisible") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("slr")
    val b1 = Seq((1L, 1, "ppp aa bb"), (2L, 0, "nnn aa cc"))
    val b2 = Seq((3L, 1, "ppp cc"), (4L, 0, "nnn bb"))
    val cols = Seq("doc_id", "y", "text")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingLrTrain.start(stream, "doc_id", "text", col("y"),
      dim = 32, s"$dir/state", s"$dir/cp")
    StreamHarness.drain("slr", q)
    def model() = StreamingLrTrain.currentModel(spark, s"$dir/state",
        "doc_id", dim = 32, rounds = 3, eta = 5.0)
      .as[(Int, java.math.BigDecimal)].collect().sortBy(_._1).toSeq
    val batchTruth = graft.operators.TextAnalysis.logRegTrain(
        (b1 ++ b2).toDF(cols: _*), "doc_id", "text", col("y"),
        dim = 32, rounds = 3, eta = 5.0)
      .as[(Int, java.math.BigDecimal)].collect().sortBy(_._1).toSeq
    assert(model() === batchTruth, "drained model drifted from batch train")
    // descent actually moved: at least one non-bias weight is nonzero
    assert(batchTruth.exists(r => r._1 >= 0 && r._2.signum != 0))
    // compaction: tail folded, stored features unchanged, model unchanged
    StreamingLrTrain.compactState(spark, s"$dir/state")
    assert(!new java.io.File(s"$dir/state/tail").exists(),
      "compaction must fold the tail")
    val stored = StreamingLrTrain.storedFeatures(spark, s"$dir/state", "doc_id")
    assert(stored.count() ===
      stored.select("doc_id", "bucket").distinct().count(),
      "compaction duplicated a (doc, bucket) feature row")
    assert(model() === batchTruth, "compaction changed the model")
  }

  test("streaming LR training replay idempotence: a replayed in-flight " +
      "batch (including batch 0) never double-banks features") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("slr_replay")
    val b1 = Seq((1L, 1, "ppp aa"), (2L, 0, "nnn bb"))
    val b2 = Seq((3L, 1, "ppp cc"))
    val cols = Seq("doc_id", "y", "text")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingLrTrain.start(stream, "doc_id", "text", col("y"),
      dim = 32, s"$dir/state", s"$dir/cp")
    StreamHarness.drain("slr_replay", q)
    def feats() = StreamingLrTrain.storedFeatures(spark, s"$dir/state", "doc_id")
      .as[(Long, Int, Int, Double)].collect().sorted.toSeq
    val f0 = feats()
    // a doubled feature row would double that doc's gradient weight —
    // the batch-keyed overwrite is what makes replay invisible
    StreamingLrTrain.processBatch(b1.toDF(cols: _*), 0L, "doc_id", "text",
      col("y"), 32, s"$dir/state")
    StreamingLrTrain.processBatch(b2.toDF(cols: _*), 1L, "doc_id", "text",
      col("y"), 32, s"$dir/state")
    assert(feats() === f0, "replay double-banked feature rows")
  }

  test("streaming retrieval eval: drained pooled report equals batch " +
      "retrievalEval; compaction is invisible") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sre")
    // two query shards; q1 has a hit at rank 1 and a miss, q2 retrieves
    // nothing relevant, q3 arrives in batch 2 with a rank-2 hit
    val qrels = Seq(
      (1L, 10L, 2), (1L, 11L, 1), (2L, 20L, 1), (3L, 30L, 1))
      .toDF("query_id", "doc_id", "grade")
    val b1 = Seq((1L, 10L, 1), (1L, 99L, 2), (2L, 98L, 1))
    val b2 = Seq((3L, 97L, 1), (3L, 30L, 2))
    val cols = Seq("query_id", "doc_id", "rank")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingRetrievalEval.start(stream, qrels, k = 3,
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("sre", q)
    def report() = StreamingRetrievalEval.currentEval(spark, s"$dir/state")
      .as[(Long, Double, Double, Double)].head()
    val batchTruth = graft.operators.CorpusStats.retrievalEval(
        (b1 ++ b2).toDF(cols: _*), qrels, k = 3)
      .as[(Long, Double, Double, Double)].head()
    assert(report() === batchTruth, "drained report drifted from batch eval")
    assert(report()._1 === 3L)
    // compaction: one metric row per query, report unchanged
    StreamingRetrievalEval.compactState(spark, s"$dir/state")
    assert(!new java.io.File(s"$dir/state/tail").exists(),
      "compaction must fold the tail")
    val stored = StreamingRetrievalEval.storedMetrics(spark, s"$dir/state")
    assert(stored.count() === stored.select("query_id").distinct().count())
    assert(report() === batchTruth, "compaction changed the report")
  }

  test("streaming retrieval eval replay idempotence: a replayed batch " +
      "never double-weights its queries") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sre_replay")
    val qrels = Seq((1L, 10L, 1), (2L, 20L, 1)).toDF("query_id", "doc_id", "grade")
    val b1 = Seq((1L, 10L, 1))
    val b2 = Seq((2L, 20L, 1))
    val cols = Seq("query_id", "doc_id", "rank")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingRetrievalEval.start(stream, qrels, k = 3,
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("sre_replay", q)
    def rows() = StreamingRetrievalEval.storedMetrics(spark, s"$dir/state")
      .collect().map(_.toString).sorted.toSeq
    val r0 = rows()
    assert(r0.length === 2)
    StreamingRetrievalEval.processBatch(b1.toDF(cols: _*), 0L, qrels, 3,
      s"$dir/state")
    StreamingRetrievalEval.processBatch(b2.toDF(cols: _*), 1L, qrels, 3,
      s"$dir/state")
    assert(rows() === r0, "replay double-banked metric rows")
  }

  test("streaming DP NB release: drained release equals batch " +
      "dpNbModelRelease; replay and compaction are invisible") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sdp")
    // 'a' counts split across batches under label x; cap L=2 bites doc 1
    val b1 = Seq(("x", "b a a c"), ("y", "a q"))
    val b2 = Seq(("x", "a zz"), ("x", "a b"))
    val cols = Seq("label", "text")
    val stream = StreamHarness.feed(dir, b1.toDF(cols: _*), b2.toDF(cols: _*))
    val q = StreamingDpNbRelease.start(stream, "text", "label",
      maxTokensPerDoc = 2, s"$dir/state", s"$dir/cp")
    StreamHarness.drain("sdp", q)
    def release() = StreamingDpNbRelease.currentRelease(spark,
        s"$dir/state", "label", maxTokensPerDoc = 2, epsilon = 1e9,
        threshold = 1.5, seed = "s1:")
      .as[(String, String, Double, Double, Double)].collect().sorted.toSeq
    val batchTruth = graft.operators.Governance.dpNbModelRelease(
        (b1 ++ b2).toDF(cols: _*), "text", "label", maxTokensPerDoc = 2,
        epsilon = 1e9, threshold = 1.5, seed = "s1:")
      .as[(String, String, Double, Double, Double)].collect().sorted.toSeq
    assert(release() === batchTruth, "drained release drifted from batch")
    // the cross-batch sum happened: (x, a) = 3 under eps->inf
    assert(batchTruth.exists(r => r._1 == "x" && r._2 == "a" && r._4 == 3.0))
    // replay both batches through the production path — count deltas are
    // not redelivery-idempotent, the batch-keyed overwrite must absorb it
    StreamingDpNbRelease.processBatch(b1.toDF(cols: _*), 0L, "text",
      "label", 2, s"$dir/state")
    StreamingDpNbRelease.processBatch(b2.toDF(cols: _*), 1L, "text",
      "label", 2, s"$dir/state")
    assert(release() === batchTruth, "replay double-counted the deltas")
    StreamingDpNbRelease.compactState(spark, s"$dir/state")
    assert(!new java.io.File(s"$dir/state/tail").exists())
    assert(release() === batchTruth, "compaction changed the release")
  }

  test("streaming config-as-query resolves the trained-classifier stage: " +
      "a (qualityGate -> lrScreen) YAML drains to the batch compile's kept set") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sc_lr")
    // labeled train corpus for the screen (aux table, batch-bound)
    val train = (1L to 12L).map { i =>
      val pos = i % 2 == 0
      (i, if (pos) 1 else 0,
        s"the shared english vocabulary document number ${i % 3} " +
          (if (pos) "mkpos" else "mkneg"))
    }.toDF("doc_id", "y", "text")
    val cfg = graft.config.ConfigCodec.pipelineFromYaml(
      """pipeline:
        |  name: lr-screen-stream
        |  stages:
        |    - stage: qualityGate
        |      options:
        |        lang: en
        |        minQuality: "0.0"
        |        maxDupBigramFrac: "1.0"
        |    - stage: lrScreen
        |      options:
        |        train: labeled
        |        yExpression: "y"
        |        dim: "32"
        |""".stripMargin)
    val b1 = Seq(
      (101L, "the first document with the english words and mkpos inside", "en"),
      (102L, "the second document with the english words and mkneg inside", "en"))
    val b2 = Seq(
      (103L, "the third document of english words carrying mkpos too", "en"))
    StreamingCuration.seedFingerprints(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", s"$dir/fp",
      partitionedBase = true)
    val stream = StreamHarness.feed(dir,
      b1.toDF("doc_id", "text", "lang"),
      b2.toDF("doc_id", "text", "lang"))
    val q = StreamingCuration.startFromConfig(spark, stream, cfg,
      Map("labeled" -> train), "doc_id", "text", "lang",
      s"$dir/fp", s"$dir/kept", s"$dir/cp")
    StreamHarness.drain("sc_lr", q)
    val streamed = spark.read.parquet(s"$dir/kept")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val batchKept = graft.pipeline.StagePipeline.compile(cfg,
        (b1 ++ b2).toDF("doc_id", "text", "lang"), Map("labeled" -> train))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed === batchKept,
      s"streamed kept $streamed != batch kept $batchKept")
    // the screen actually screened: the mkneg doc was dropped
    assert(batchKept.contains(101L) && !batchKept.contains(102L),
      s"classifier screen did not separate: $batchKept")
  }

  test("streaming scene segments: drained scenes equal batch m13 under " +
      "any batching; a replayed batch rewrites exactly its own rows") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("ssc")
    val media = (1L to 9L).map(i =>
      (i, (("a" * 40) + ("z" * 40) * (i % 3).toInt).getBytes("UTF-8")))
    val df = media.toDF("media_id", "content")
    val batchTruth = graft.operators.Multimodal.sceneSegments(df,
        "media_id", "content", windowBytes = 16, cutThreshold = 120)
      .as[(Long, Long, Int, Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    // drive the production path batch by batch, replaying batch 0
    def run(b: Seq[(Long, Array[Byte])], id: Long): Unit =
      StreamingSceneSegments.processBatch(b.toDF("media_id", "content"),
        id, "media_id", "content", s"$dir/scenes", 16, 120, None)
    run(media.filter(_._1 <= 4), 0L)
    run(media.filter(_._1 <= 4), 0L) // replay: overwrites its own partition
    run(media.filter(_._1 > 4), 1L)
    val drained = StreamingSceneSegments.scenes(spark, s"$dir/scenes")
      .as[(Long, Long, Int, Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    assert(drained.toSeq === batchTruth.toSeq,
      "drained scenes drifted from batch m13")
  }

  test("streaming site template: a motto crossing minRepeats on a LATE " +
      "batch retro-drops from early pages (merge-on-read); replay exact; " +
      "drained equals batch") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sst")
    val motto = "<p>our quality motto repeats on every page of this host</p>"
    def page(i: Long) = (i,
      s"$motto<p>unique article number $i body with plenty of words here</p>",
      "A")
    val cols = Seq("doc_id", "html", "host")
    val all = (1L to 6L).map(page)
    def run(b: Seq[(Long, String, String)], id: Long): Unit =
      StreamingSiteTemplate.processBatch(b.toDF(cols: _*), id,
        "doc_id", "html", "host", s"$dir/state", 5)
    def extract() = StreamingSiteTemplate
      .currentExtract(spark, s"$dir/state", "doc_id", minRepeats = 5)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    // batch 0: 3 pages — motto count 3 < 5, still CONTENT everywhere
    run(all.take(3), 0L)
    run(all.take(3), 0L) // replay: must not double page counts
    assert(extract().forall(r => r._2.startsWith("our quality motto") &&
      r._4 === 0), "under minRepeats the motto must survive (and a " +
      "replayed batch must not inflate its page count)")
    // batch 1: 3 more pages — count 6 >= 5: the motto retro-drops from
    // the batch-0 pages too, which no per-batch decision could do
    run(all.drop(3), 1L)
    val drained = extract()
    assert(drained.forall(r => r._2.startsWith("unique article") &&
      r._4 === 1), s"motto must retro-drop host-wide, got $drained")
    val batchTruth = graft.operators.Html.htmlMainContentSiteAware(
        all.toDF(cols: _*), "doc_id", "html", "host", minWords = 5,
        minRepeats = 5)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    assert(drained === batchTruth, "drained extraction drifted from batch t64")
  }

  test("streaming web graph: drained rank equals batch g22 composition " +
      "under any batching (late links raise early pages); replay exact; " +
      "link-less pages keep their teleport rank") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("swg")
    // pages 1..6: page i links to doc i/2 via a RELATIVE href (the
    // resolution path is load-bearing); page 6 has no links at all
    def page(i: Long) = (i,
      if (i == 6L) "<p>no links on this page</p>"
      else s"<p>see <a href='../doc/${i / 2}?utm_source=x'>here</a></p>",
      s"http://example.com/doc/$i")
    val cols = Seq("doc_id", "html", "base_uri")
    val all = (1L to 6L).map(page)
    def run(b: Seq[(Long, String, String)], id: Long): Unit =
      StreamingWebGraph.processBatch(b.toDF(cols: _*), id,
        "doc_id", "html", "base_uri", s"$dir/state", "/doc/([0-9]+)")
    run(all.take(3), 0L)
    run(all.take(3), 0L) // replay: must not double edges or sentinels
    run(all.drop(3), 1L)
    val drained = StreamingWebGraph
      .currentRank(spark, s"$dir/state", "doc_id", iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val pagesDf = all.toDF(cols: _*)
    val batchEdges = graft.operators.Html.docLinkEdges(pagesDf,
      "doc_id", "html", "base_uri")
    val batchTruth = graft.operators.Graph.pageRank(
        pagesDf.select("doc_id"), batchEdges, "doc_id", "src", "dst",
        iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(drained === batchTruth, "drained rank drifted from batch g22")
    assert(drained.map(_._1) === (1L to 6L),
      "every page (including the link-less one) must keep its vertex")
    // the relative hrefs really became edges: page 2 (linked from 4 and
    // 5) outranks page 6 (linked from nothing)
    val rank = drained.toMap
    assert(rank(2L) > rank(6L), s"resolution-built edges missing: $drained")
  }

  test("streaming frontier: late batches raise a url's priority " +
      "(merge-on-read counts); replay must not inflate; drained equals " +
      "batch schedule") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sfr")
    // /p/hot is mentioned once in batch 0 and twice in batch 1 — its
    // rank-1 spot only exists if counts accumulate ACROSS batches
    val b0 = Seq("http://a.io/p/hot", "http://a.io/p/cold1",
      "http://a.io/p/cold2").toDF("url")
    val b1 = Seq("http://a.io/p/hot", "http://a.io/p/hot",
      "http://a.io/p/cold1").toDF("url")
    StreamingFrontier.processBatch(b0, 0L, "url", s"$dir/state")
    StreamingFrontier.processBatch(b0, 0L, "url", s"$dir/state") // replay
    StreamingFrontier.processBatch(b1, 1L, "url", s"$dir/state")
    val robots = graft.operators.Robots.rules(
      Seq(("a.io", "User-agent: *\nDisallow: /private/\n"))
        .toDF("host", "robots"), "host", "robots")
    val crawled = Seq.empty[String].toDF("url")
    val drained = StreamingFrontier.currentSchedule(spark, s"$dir/state",
        crawled, robots, budget = 2)
      .as[(String, Int, String, Long)].collect().sortBy(_._2).toSeq
    assert(drained === Seq(("a.io", 1, "http://a.io/p/hot", 3L),
      ("a.io", 2, "http://a.io/p/cold1", 2L)),
      s"cross-batch priority accumulation / replay exactness: $drained")
    val batchTruth = graft.operators.WebFrontier.schedule(
        b0.unionByName(b1), crawled, robots, "url", budget = 2)
      .as[(String, Int, String, Long)].collect().sortBy(_._2).toSeq
    assert(drained === batchTruth, "drained schedule drifted from batch")
  }

  test("streaming retrieval eval qrels-aware report: a judged query the " +
      "system never retrieved for zero-fills to match batch") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("srz")
    // q9 is judged but the system retrieves NOTHING for it — it appears
    // in no micro-batch, so only the qrels-aware overload can count it
    val qrels = Seq((1L, 10L, 1), (9L, 90L, 1))
      .toDF("query_id", "doc_id", "grade")
    val runs = Seq((1L, 10L, 1))
    val stream = StreamHarness.feed(dir,
      runs.toDF("query_id", "doc_id", "rank"))
    val q = StreamingRetrievalEval.start(stream, qrels, k = 3,
      s"$dir/state", s"$dir/cp")
    StreamHarness.drain("srz", q)
    val batchTruth = graft.operators.CorpusStats.retrievalEval(
        runs.toDF("query_id", "doc_id", "rank"), qrels, k = 3)
      .as[(Long, Double, Double, Double)].head()
    assert(batchTruth._1 === 2L)
    val filled = StreamingRetrievalEval
      .currentEval(spark, s"$dir/state", qrels)
      .as[(Long, Double, Double, Double)].head()
    assert(filled === batchTruth,
      "qrels-aware report must zero-fill the retrieve-nothing query")
    // the plain overload documents the divergence: only banked queries
    val plain = StreamingRetrievalEval.currentEval(spark, s"$dir/state")
      .as[(Long, Double, Double, Double)].head()
    assert(plain._1 === 1L)
  }
}
