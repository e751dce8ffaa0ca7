package graft.streaming

import org.apache.spark.sql.DataFrame
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

  /** Write each of `batches`, in order, as one parquet file under
    * `$tmp/stream/b<i>` and return them as a stream of one file per
    * trigger — one frame, one micro-batch — typed by the first frame's
    * schema. Frames whose column names or types differ from the first's
    * are rejected before anything is written (nullability is not
    * compared: the file source reads every column as nullable).
    */
  def feed(tmp: String, batches: DataFrame*): DataFrame = {
    require(batches.nonEmpty, "feed needs at least one batch")
    def shape(t: StructType) =
      t.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    val schema = batches.head.schema
    batches.zipWithIndex.foreach { case (b, i) =>
      require(shape(b.schema) == shape(schema),
        s"batch $i has columns (${shape(b.schema)}), " +
          s"batch 0 has (${shape(schema)})")
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$tmp/stream/b$i")
    }
    batches.head.sparkSession.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/stream/*")
  }

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
