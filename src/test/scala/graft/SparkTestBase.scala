package graft

import graft.streaming.StreamHarness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // session shared across suites

  /** A fresh `graft_<tag>-<uuid>` dir, deleted when the test JVM exits. */
  def tempDir(tag: String): String = StreamHarness.tempDir(tag)
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
    s
  }
}
