package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Minimal bridge into Spark's `private[sql]` Column/registry plumbing.
 *
 * `Column <-> Expression` conversion and the session `FunctionRegistry` are
 * `private[sql]` in Spark 4.x; a sub-package of `org.apache.spark.sql` is the
 * sanctioned-visibility way to reach them without forking Spark. This file is
 * the ONLY place in the project allowed to touch Spark internals — everything
 * in `graft.*` goes through this object.
 */
object Bridge {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a Catalyst expression builder, so
    * `expr("name(...)")` and `spark.sql` resolve it (SURVEY §2 O22).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** True when `name` already resolves in this session's function registry.
    * This — not a guard set keyed on the session — is the correct
    * idempotence check for [[registerFunction]]: cloned sessions COPY the
    * parent's registry, so a session-keyed guard misses them and the
    * re-registration makes `SimpleFunctionRegistry` WARN
    * "replaced a previously registered function" on every query.
    */
  def functionExists(spark: SparkSession, name: String): Boolean = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))
  }

  /** A clone of the session with COPIED state — the same operation the
    * streaming engine performs per query (`MicroBatchExecution` runs each
    * batch in a cloned session), which is exactly where a session-keyed
    * registration guard broke down. `cloneSession` is `private[sql]`, so
    * the registry-idempotence test reaches it through here.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The identity-transform partitioning columns of every DSv2 relation in
    * a DataFrame's plan — how a table-addressed connector (Cassandra, the
    * memdb test double) advertises its partition/primary-key columns.
    * `DataSourceV2Relation` lives in an execution package, hence here.
    */
  def v2PartitioningColumns(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.partitioning().toSeq.collect {
          case t if t.name == "identity" =>
            t.references().flatMap(_.fieldNames()).toSeq
        }.flatten
    }.flatten

  /** Free the cached blocks behind a `localCheckpoint()`ed DataFrame.
    * Iterative algorithms checkpoint per round; superseded rounds would
    * otherwise pin executor storage until the ContextCleaner happens to
    * GC them. `LogicalRDD` lives in an execution package, hence here.
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** A fresh `<java.io.tmpdir>/<prefix>-<uuid>` directory that Spark's
    * `ShutdownHookManager` deletes recursively at JVM exit.
    * `Utils.createTempDir` is `private[spark]`, hence here.
    */
  def createTempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  /** The default-named state-store providers that the current run of
    * `query` can have loaded in this JVM: one per
    * `<checkpoint>/state/<op>/<partition>`.
    */
  private def stateStoreIds(query: org.apache.spark.sql.streaming.StreamingQuery) = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.state.{StateStoreId, StateStoreProviderId}
    val exec = query.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper].streamingQuery
    // the root that keys the stores: StreamExecution.checkpointFile("state")
    val root = new Path(new Path(exec.resolvedCheckpointRoot), "state")
    val fs = root.getFileSystem(exec.sparkSession.sessionState.newHadoopConf())
    def numbered(p: Path): Seq[Path] = if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.forall(_.isDigit))
    for (op <- numbered(root); part <- numbered(op)) yield StateStoreProviderId(
      StateStoreId(root.toString, op.getName.toLong, part.getName.toInt), exec.runId)
  }

  /** Close and unload the state-store providers that the terminated
    * `query` loaded in this JVM. Spark's maintenance pass would otherwise
    * keep them, with their cached state maps, until its next tick.
    */
  def releaseStateStores(query: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    stateStoreIds(query).foreach(id =>
      org.apache.spark.sql.execution.streaming.state.StateStore
        .removeFromLoadedProvidersAndClose(id))

  /** How many of `query`'s state-store providers are loaded in this JVM. */
  def loadedStateStores(query: org.apache.spark.sql.streaming.StreamingQuery): Int =
    stateStoreIds(query).count(
      org.apache.spark.sql.execution.streaming.state.StateStore.isLoaded)

  /** The query id a streaming checkpoint recorded on an earlier run. */
  def checkpointQueryId(spark: SparkSession, checkpointDir: String): Option[String] =
    org.apache.spark.sql.execution.streaming.runtime.StreamMetadata.read(
      new org.apache.hadoop.fs.Path(checkpointDir, "metadata"),
      spark.sparkContext.hadoopConfiguration).map(_.id)
}
