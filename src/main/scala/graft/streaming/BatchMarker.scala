package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * A tiny per-batch scalar marker store — the persistence behind
 * cross-batch monotonicity contracts (the entity-resolution record-id
 * watermark, the streaming funnel's event-time watermark): one LONG per
 * batch under `<dir>/batch=<id>`, replay-idempotent (a batch overwrites
 * its own partition), read as "the latest marker of batches before
 * mine" so a foreachBatch replay sees exactly the pre-batch value.
 * [[compact]] folds history to the reserved pre-run id −1, which makes
 * a run restarting at batch 0 still see it. [[readAll]] is the one
 * reader of every operator's batch-keyed output dirs.
 */
private[graft] object BatchMarker {

  /** Every row under `<dir>/batch=<id>`, through partition discovery of
    * `dir` (a `batch=*` glob reads the same rows but logs a stack trace per
    * read); the discovered `batch` column is dropped unless `keepBatch`.
    */
  def readAll(s: SparkSession, dir: String, keepBatch: Boolean = false): DataFrame =
    if (keepBatch) s.read.parquet(dir) else s.read.parquet(dir).drop("batch")

  /** Delete `dirs` recursively (a fresh run's batch 0 clears old output). */
  def reset(s: SparkSession, dirs: String*): Unit = dirs.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def write(s: SparkSession, dir: String, batchId: Long, value: Long): Unit = {
    import s.implicits._
    Seq(value).toDF("value").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
  }

  /** Latest marker recorded by batches with id < `before`; None before
    * any data.
    */
  def readLatest(s: SparkSession, dir: String,
      before: Long): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val ids = fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLong }
      .filter(_ < before)
    if (ids.isEmpty) None
    else Option(s.read.parquet(s"$dir/batch=${ids.max}")
      .agg(max(col("value"))).head().get(0)).map(_.asInstanceOf[Long])
  }

  /** Keep only the newest marker, rebased to the reserved id −1. */
  def compact(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      readLatest(s, dir, Long.MaxValue).foreach { m =>
        fs.delete(p, true)
        write(s, dir, -1L, m)
      }
    }
  }
}
