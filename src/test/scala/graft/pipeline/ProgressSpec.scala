package graft.pipeline

import graft.SparkTestBase
import graft.model._
import graft.sources.Tables
import graft.streaming.{StreamHarness, StreamingMigration}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** Periodic progress reporting (VERDICT r2 item 7 — the reference logs
  * rowsRead/rowsMigrated delta lines on an interval,
  * MigrateTableTask.java:369-413).
  */
class ProgressSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming migration emits a status line per micro-batch (>= 2 reports)") {
    val lines = new ConcurrentLinkedQueue[String]()
    val listener = new StreamingProgressListener(lines.add(_))
    spark.streams.addListener(listener)
    try {
      val dir = tempDir("prog")
      val srcRef = TableRef(path = s"$dir/src")
      val cfg = MigrationConfig(srcRef, TableRef(path = s"$dir/tgt"), Nil,
        statusIntervalMillis = Some(100L))
      (1 to 100).map(i => (i.toLong, s"p_$i")).toDF("id", "payload")
        .repartition(4) // 4 files => 4 micro-batches at 1 file/trigger
        .write.parquet(Tables.tablePath(srcRef, "prog_t"))
      val q = StreamingMigration.start(spark, cfg,
        TableMigrationDef("prog_t", simulateOnly = false),
        checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow(),
        maxFilesPerTrigger = 1)
      StreamHarness.drain("prog", q)
      // listener bus is async — drain it
      var waited = 0
      while (lines.asScala.count(_.contains("stream batch=")) < 2 && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
      val batchLines = lines.asScala.filter(_.contains("stream batch=")).toSeq
      assert(batchLines.size >= 2, s"expected >=2 per-batch reports, got:\n$batchLines")
      // cumulative count is monotonically non-decreasing across batches
      val cums = batchLines.map(_.split("cumulative=")(1).split(" ")(0).toLong)
      assert(cums === cums.sorted)
      // VERDICT r4 #3: sliding-window latency percentiles on the status line
      assert(batchLines.exists(l => l.contains("batchMillis[p50=") &&
        l.contains("p99=")), s"expected batch latency histogram, got:\n$batchLines")
    } finally spark.streams.removeListener(listener)
  }

  test("batch reporter emits interval delta lines while a job runs") {
    val lines = new ConcurrentLinkedQueue[String]()
    val reporter = new BatchProgressReporter(spark, "t", 50L, lines.add(_))
    reporter.start()
    try {
      // enough work to span several 50 ms intervals
      (1 to 5).foreach { _ =>
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
          .groupBy("l_orderkey").count()
          .write.format("noop").mode("overwrite").save()
      }
      var waited = 0
      while (lines.isEmpty && waited < 5000) { Thread.sleep(50); waited += 50 }
    } finally reporter.stop()
    val got = lines.asScala.toSeq
    assert(got.nonEmpty, "expected at least one interval delta line")
    assert(got.head.contains("rowsRead="))
    assert(got.head.contains("rows/s"))
    // VERDICT r4 #3: task-duration percentiles ride the same status line
    assert(got.exists(l => l.contains("taskMillis[p50=") && l.contains("p99=")),
      s"expected task latency histogram on a status line, got:\n$got")
  }

  test("latency window: nearest-rank percentiles, old samples age out") {
    val w = new LatencyWindow(windowMillis = 1000L)
    (1L to 100L).foreach(v => w.record(v, now = 5000L))
    val s = w.summary(now = 5000L).get
    assert(s.contains("p50=50ms") && s.contains("p95=95ms") &&
      s.contains("p99=99ms") && s.contains("max=100ms") && s.contains("n=100"), s)
    // 1.2 s later every sample has aged out of the 1 s window
    assert(w.summary(now = 6200L).isEmpty)
    // a fresh sample after expiry stands alone
    w.record(7L, now = 6300L)
    assert(w.summary(now = 6300L).get.contains("p50=7ms"))
  }
}
