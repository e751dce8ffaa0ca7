package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/**
 * The shared drain shape of every fixture-driven streaming query: batch
 * files are written under `$tmp/stream/<batch>`, read back one file per
 * trigger (one file = one micro-batch), and the query is drained to
 * completion before its output is read.
 */
object StreamHarness {

  /** How long [[drain]] waits for an `AvailableNow` query to finish. */
  private val DrainTimeoutMs = 300000L

  /** A fresh `graft_<tag>-<uuid>` directory under `java.io.tmpdir`,
    * deleted at JVM exit — not earlier, because callers return lazy
    * DataFrames that still read from it.
    */
  def tempDir(tag: String): String =
    org.apache.spark.sql.graft.Bridge.createTempDir(s"graft_$tag").getPath

  /** The parquet files under `$tmp/stream/`, one per micro-batch. */
  def fileStream(s: SparkSession, tmp: String, schema: StructType): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/stream/*")

  /** [[fileStream]] with a DDL schema string. */
  def fileStream(s: SparkSession, tmp: String, ddl: String): DataFrame =
    fileStream(s, tmp, StructType.fromDDL(ddl))

  /** Block until `q` terminates. A query still running after the timeout
    * is stopped and the call throws, so a caller never reads half-written
    * output and no query keeps appending behind later work. A query that
    * failed rethrows its `StreamingQueryException`.
    */
  def drain(tag: String, q: StreamingQuery): Unit =
    if (!q.awaitTermination(DrainTimeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"$tag stream did not drain in ${DrainTimeoutMs / 1000}s")
    }
}
