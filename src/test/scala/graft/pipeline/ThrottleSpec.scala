package graft.pipeline

import graft.SparkTestBase
import graft.model._
import graft.sources.Tables

/** Batch-mode rate limiting (VERDICT r4 #4): pauseMillisBetweenPages must
  * cap batch writes, not just set the streaming trigger.
  */
class ThrottleSpec extends SparkTestBase {
  import spark.implicits._

  test("paced emits every row unchanged") {
    val df = (1 to 97).map(i => (i.toLong, s"v_$i")).toDF("id", "v").repartition(4)
    val paced = Throttle.paced(df, pageSize = 10, pauseMillis = 1L)
    assert(paced.schema === df.schema)
    assert(paced.as[(Long, String)].collect().toSet ===
      df.as[(Long, String)].collect().toSet)
  }

  test("batch migration with pauseMillisBetweenPages takes at least the paced floor") {
    val dir = tempDir("throttle")
    val srcRef = TableRef(path = s"$dir/src")
    val cfg = MigrationConfig(srcRef, TableRef(path = s"$dir/tgt"), Nil)
    // 2 partitions x 25 rows; pageSize 10 => 2 inter-page pauses per task
    // (before rows 11 and 21) => >= 2 x 150 ms wall-clock even with the
    // tasks running in parallel
    (1 to 50).map(i => (i.toLong, s"p_$i")).toDF("id", "payload")
      .repartition(2).write.parquet(Tables.tablePath(srcRef, "pace_t"))
    val t = TableMigrationDef("pace_t",
      pageSize = Some(10), pauseMillisBetweenPages = Some(150L),
      simulateOnly = false)
    val res = MigrationPlanner.execute(spark, cfg, t)
    assert(res.rowsMigrated === 50L)
    assert(res.elapsedMillis >= 300L,
      s"expected >= 300 ms with 2 pauses x 150 ms per task, got ${res.elapsedMillis} ms")
  }

  test("dry runs skip the pacing (O16 stays a cheap gate)") {
    val dir = tempDir("throttle_dry")
    val srcRef = TableRef(path = s"$dir/src")
    val cfg = MigrationConfig(srcRef, TableRef(path = s"$dir/tgt"), Nil)
    (1 to 50).map(i => (i.toLong, s"p_$i")).toDF("id", "payload")
      .repartition(2).write.parquet(Tables.tablePath(srcRef, "dry_t"))
    // paced this would sleep >= 2 tasks x 2 pages x 10 s; unpaced it's
    // a sub-second noop write
    val t = TableMigrationDef("dry_t",
      pageSize = Some(10), pauseMillisBetweenPages = Some(10000L),
      simulateOnly = true)
    val res = MigrationPlanner.execute(spark, cfg, t)
    assert(res.rowsMigrated === 50L)
    assert(res.elapsedMillis < 8000L,
      s"dry run slept through the throttle schedule: ${res.elapsedMillis} ms")
  }
}
