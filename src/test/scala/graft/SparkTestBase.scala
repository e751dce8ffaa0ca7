package graft

import graft.streaming.StreamHarness
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // session shared across suites

  /** A fresh `graft_<tag>-<uuid>` dir, deleted when the test JVM exits. */
  def tempDir(tag: String): String = StreamHarness.tempDir(tag)

  /** Make the next start on `checkpointDir` re-run its last micro-batch,
    * as after a crash between the batch's sink write and its commit: the
    * highest `commits/<N>` and its `.<N>.crc` are deleted. Returns N.
    */
  def replayLastBatch(checkpointDir: String): Long = {
    val commits = new java.io.File(checkpointDir, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    last
  }

  /** Run `action` and return its result with the observed metrics (by
    * name) of every query it ran. Query listeners hear of a finished query
    * through Spark's asynchronous listener bus, so the bus is drained (up to
    * 30 s) before looking; fails naming each of `names` that never arrived.
    * Metrics not in `names` are returned when present, never waited for.
    */
  def observedMetrics[T](names: String*)(action: => T): (T, Map[String, Row]) = {
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) => seen.put(name, row) }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = action
      try ListenerBus.drain(spark, 30000)
      catch { case _: java.util.concurrent.TimeoutException => () }
      val missing = names.filterNot(seen.containsKey)
      if (missing.nonEmpty)
        fail(s"observed metric(s) never arrived: ${missing.mkString(", ")}")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toMap)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", StreamHarness.tempDir("wh"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.sources.LocalFs.install(s)
    s
  }
}
