package graft.sources

import graft.model.TableRef
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/**
 * Source/sink bindings behind the `TableRef` abstraction (SURVEY §7.1).
 *
 * The reference binds tables to live Cassandra keyspaces through a connection
 * adapter (reference: cassandra/CassandraConnectionAdapter.java:184-234,
 * MigrateTableTask.java:415-428 schema discovery). We bind to any Spark
 * DataSource: parquet directories for tests/bench (TESTDATA.md layout
 * `<dir>/<table>.parquet`), or a DSv2 connector (e.g.
 * `org.apache.spark.sql.cassandra`) in production — predicate/limit/column
 * pushdown then happens through the standard DSv2 contracts, replacing the
 * reference's hand-built CQL SELECT (DefaultMigratorPlugin.java:180-220).
 */
object Tables {

  /** Path for a named table under a TableRef: `<dir>/<table>.<ext>` with
    * the extension following the format (TESTDATA.md parquet layout; csv/
    * json/orc sources use their own suffix; other formats address by name).
    */
  def tablePath(ref: TableRef, table: String): String = {
    val ext = ref.format match {
      case "parquet" | "csv" | "json" | "orc" | "text" => ref.format
      case _ => "parquet"
    }
    if (ref.path.isEmpty) table else s"${ref.path.stripSuffix("/")}/$table.$ext"
  }

  // "text" reads line-oriented corpora as a single `value` column — the
  // rawest LLM-ingestion format; writing text requires a one-string-column
  // frame (Spark's own contract for the text sink)
  private val pathFormats = Set("parquet", "csv", "json", "orc", "text")

  /** Is this ref addressed by filesystem path (vs. a table-name DSv2)? */
  def isPathFormat(ref: TableRef): Boolean = pathFormats.contains(ref.format)

  /** Is the table a LOCAL filesystem path (probed without Spark)? */
  def isLocalPath(ref: TableRef, table: String): Boolean =
    isPathFormat(ref) && !tablePath(ref, table).stripPrefix("file:").contains("://")

  /** Per-table load-call counts — lets specs assert a plan resolves a
    * table once, not per micro-batch (VERDICT r4 #2 "target read once").
    * Diagnostic only and OFF unless a spec flips [[countLoads]] on (so
    * long-lived production drivers never accumulate map entries); keyed
    * by resolved path (two refs naming the same path share a counter) and
    * never cleared, so assertions must diff before/after counts rather
    * than expect absolute values. One AtomicLong bump per load() CALL
    * (not per scan) while enabled.
    */
  private[graft] val countLoads = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val loadCalls =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private[graft] def loadCallCount(ref: TableRef, table: String): Long =
    Option(loadCalls.get(tablePath(ref, table))).map(_.get()).getOrElse(0L)

  /** Load a table as a DataFrame — the O1 scan. Column pruning + filter
    * pushdown are Catalyst's job from here (SURVEY §4).
    */
  def load(spark: SparkSession, ref: TableRef, table: String): DataFrame = {
    if (countLoads.get())
      loadCalls.computeIfAbsent(tablePath(ref, table),
        _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    val reader = spark.read.format(ref.format).options(ref.options)
    ref.format match {
      case f if pathFormats.contains(f) => reader.load(tablePath(ref, table))
      case _ => reader.option("table", table).load()
    }
  }

  /** Load a table if it exists (target snapshots for anti-joins may not).
    * Local paths are probed directly — avoids Spark logging a WARN +
    * stacktrace for the (entirely expected) missing-target case. Once a
    * local path EXISTS, a load failure is corruption/permissions, not
    * absence, and surfaces instead of silently disabling existence
    * filtering / null-patching against this target. Elsewhere an
    * analysis-time failure is absence/misconfiguration -> None, but
    * transport/auth errors (IO, driver exceptions) are NOT absence and
    * surface: treating them as "target is empty" would re-insert every
    * existing row under anti-join modes.
    */
  def loadIfExists(spark: SparkSession, ref: TableRef, table: String): Option[DataFrame] = {
    val local = isLocalPath(ref, table)
    if (local && !java.nio.file.Files.exists(
        java.nio.file.Paths.get(tablePath(ref, table).stripPrefix("file:")))) None
    else try {
      val df = load(spark, ref, table)
      df.schema // force analysis so a missing table surfaces here
      Some(df)
    } catch { case _: org.apache.spark.sql.AnalysisException if !local => None }
  }

  /** Primary-key columns a table-addressed DSv2 source advertises as its
    * identity partitioning (the Cassandra connector surfaces partition keys
    * this way; so does the memdb test double) — the schema-discovery path
    * the reference reads from cluster metadata
    * (MigrateTableTask.java:415-428). Path sources return Nil.
    */
  def discoverPkColumns(spark: SparkSession, ref: TableRef, table: String): Seq[String] =
    if (isPathFormat(ref)) Nil
    else loadIfExists(spark, ref, table)
      .map(org.apache.spark.sql.graft.Bridge.v2PartitioningColumns)
      .getOrElse(Nil)

  /** Write a DataFrame to a target table binding. `overwrite` maps the
    * reference's upsert-into-empty-target migration run; real merge
    * semantics are produced upstream by the planner's write-mode transform
    * (keep-last / counter pre-agg / anti-join).
    *
    * @param ttlColumn re-based per-row TTL column (O10/O11): for a
    *                  table-addressed connector target it is handed to the
    *                  writer as the per-row TTL option — key from the ref's
    *                  `ttlOptionKey` option, default "ttl" (the Cassandra
    *                  DSv2 writer's per-row `USING TTL` binding; reference
    *                  DefaultMigratorPlugin.java:290-304). Path targets
    *                  keep it as an ordinary data column.
    */
  def write(df: DataFrame, ref: TableRef, table: String, mode: String = "overwrite",
      ttlColumn: Option[String] = None): Unit = ref.format match {
    case "noop" => df.write.format("noop").mode("overwrite").save()
    case f if pathFormats.contains(f) => writer(df, ref, mode).save(tablePath(ref, table))
    case _ =>
      val ttlOpts = ttlColumn
        .map(c => Map(ref.options.getOrElse("ttlOptionKey", "ttl") -> c))
        .getOrElse(Map.empty)
      writer(df, ref, mode, ttlOpts + ("table" -> table)).save()
  }

  /** `partitionBy` option: comma-separated columns -> hive-style layout,
    * so downstream reads prune partitions (migrated tables at scale).
    */
  private def partitionCols(ref: TableRef): Seq[String] =
    ref.options.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Every target write's writer: partitionBy survives swaps and commits. */
  private def writer(df: DataFrame, ref: TableRef, mode: String,
      extra: Map[String, String] = Map.empty): DataFrameWriter[Row] = {
    val w = df.write.format(ref.format)
      .options(ref.options - "partitionBy" - "ttlOptionKey" ++ extra).mode(mode)
    if (partitionCols(ref).nonEmpty) w.partitionBy(partitionCols(ref): _*) else w
  }

  /** Replace a path-based target that the writing plan is simultaneously
    * READING (merge modes): materialize to a staging path, then swap.
    * Spark refuses a direct overwrite of an input path — and is right to.
    */
  def writeReplacing(df: DataFrame, ref: TableRef, table: String): Unit = {
    val path = new Path(tablePath(ref, table))
    val staging = path.suffix(".staging")
    val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(staging, true)
    writer(df, ref, "overwrite").save(staging.toString)
    fs.delete(path, true)
    if (!fs.rename(staging, path)) throw new java.io.IOException(s"could not rename $staging")
  }

  /** Commit one streaming micro-batch into a path target so that a replay
    * of the batch replaces its first attempt: write it to the sibling
    * `<table>._graft_stage/<tag>` (outside the target, so a crash before
    * the renames leaves an absent target absent), delete the target files
    * `<tag>-*` of an earlier attempt, rename each staged file into its
    * partition dir as `<tag>-<name>`, drop the stage. Only filesystem
    * metadata calls beyond the write; one streaming writer per target.
    */
  def commitBatch(df: DataFrame, ref: TableRef, table: String, tag: String): Unit = {
    val root = new Path(tablePath(ref, table))
    val stage = new Path(root.suffix("._graft_stage"), tag)
    writer(df, ref, "overwrite").save(stage.toString)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val depth = partitionCols(ref).size
    def atDepth(dir: Path, name: String) =
      fs.globStatus(new Path(dir, "*/" * depth + name)).map(_.getPath)
    atDepth(root, s"$tag-*").foreach(fs.delete(_, false))
    atDepth(stage, "[^_.]*").foreach { src =>
      val dir = Iterator.iterate(src.getParent)(_.getParent).take(depth).toSeq
        .foldRight(root)((d, parent) => new Path(parent, d.getName))
      fs.mkdirs(dir)
      if (!fs.rename(src, new Path(dir, s"$tag-${src.getName}")))
        throw new java.io.IOException(s"could not rename $src into $dir")
    }
    fs.delete(stage.getParent, true)
  }

  /** The partition column that the layout of the earlier streaming sink
    * (one `__graft_batch=<id>` dir per micro-batch) adds to a target;
    * [[commitBatch]] cannot extend that layout.
    */
  val oldBatchColumn = "__graft_batch"
}
