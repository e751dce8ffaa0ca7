package graft.config

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

class ConfigCodecSpec extends AnyFunSuite {

  // shaped after reference config/migration-config.example.yaml:25-121
  private val yaml =
    """# migration config (reference example shape)
      |sourceDB:
      |  format: parquet
      |  path: /data/src
      |targetDB:
      |  format: parquet
      |  path: /data/tgt
      |  options:
      |    compression: snappy
      |parallel: false
      |tableMigrations:
      |  - tableName: my_source_table_3
      |    whereClause: "part_key_col_1='abcd' AND clust_key_col_2 >= 3000"
      |    maxWriteRowCount: 2000
      |    simulateOnly: true
      |    continueOnRowError: false
      |    filters:
      |      - type: FieldValueFilter
      |        expression: "row.clust_key_col_2 >= 3000 && row.clust_key_col_2 < 10000"
      |      - type: IfNotExistFilter
      |  - tableName: my_table_v1
      |    targetTableName: my_table_v2
      |    writeMode: insertIfNotExists
      |    pkColumns: [my_col]
      |    calculatedColumns:
      |      - targetColumn: my_col_hash
      |        expression: "(short)(abs(row.my_col.hashCode()) % 32)"
      |  - tableName: counters_t
      |    writeMode: counter
      |    pkColumns: [tile_id, day]
      |    counterColumns: [hit_count]
      |    ttl:
      |      ttlColumn: row_ttl_value
      |      sourceTableTtl: 86400
      |      targetTableTtl: 604800
      |""".stripMargin

  test("parses the reference-shaped config end to end") {
    val cfg = ConfigCodec.fromYaml(yaml)
    assert(cfg.source === TableRef("parquet", "/data/src"))
    assert(cfg.target.options === Map("compression" -> "snappy"))
    assert(cfg.tables.size === 3)

    val t1 = cfg.tables.head
    assert(t1.tableName === "my_source_table_3")
    assert(t1.whereClause.get.contains("part_key_col_1='abcd'"))
    assert(t1.maxWriteRowCount === Some(2000L))
    assert(t1.simulateOnly)
    assert(t1.continueOnRowError === Some(false))
    assert(t1.filters === Seq(
      FieldValueFilter("row.clust_key_col_2 >= 3000 && row.clust_key_col_2 < 10000"),
      IfNotExistFilter))

    val t2 = cfg.tables(1)
    assert(t2.targetTableName === Some("my_table_v2"))
    assert(t2.writeMode === InsertIfNotExists)
    assert(t2.pkColumns === Seq("my_col"))
    assert(t2.calculatedColumns ===
      Seq(CalculatedColumn("my_col_hash", "(short)(abs(row.my_col.hashCode()) % 32)")))

    val t3 = cfg.tables(2)
    assert(t3.writeMode === CounterIncrement)
    assert(t3.pkColumns === Seq("tile_id", "day"))
    assert(t3.ttl === Some(TtlSpec("row_ttl_value", 86400L, 604800L)))
  }

  test("clear errors on malformed config") {
    assertThrows[ConfigCodec.ConfigError](ConfigCodec.fromYaml("parallel: true"))
    assertThrows[ConfigCodec.ConfigError](ConfigCodec.fromYaml(
      yaml.replace("writeMode: counter", "writeMode: bogus")))
    assertThrows[ConfigCodec.ConfigError](ConfigCodec.fromYaml(
      yaml.replace("maxWriteRowCount: 2000", "maxWriteRowCount: many")))
  }

  test("block scalars carry multi-line whereClause and calculated-column expressions") {
    val cfg = ConfigCodec.fromYaml(
      """sourceDB:
        |  path: /data/src
        |targetDB:
        |  path: /data/tgt
        |tableMigrations:
        |  - tableName: t
        |    whereClause: |
        |      part_key_col_1 = 'abcd'
        |      AND clust_key_col_2 >= 3000
        |    calculatedColumns:
        |      - targetColumn: bucket
        |        expression: >-
        |          (short)(abs(row.my_col.hashCode())
        |          % 32)
        |""".stripMargin)
    val t = cfg.tables.head
    assert(t.whereClause === Some("part_key_col_1 = 'abcd'\nAND clust_key_col_2 >= 3000\n"))
    assert(t.calculatedColumns ===
      Seq(CalculatedColumn("bucket", "(short)(abs(row.my_col.hashCode()) % 32)")))
  }

  test("pageSize outside [1, Int.MaxValue] fails when the config is parsed") {
    for (bad <- Seq("0", "-5", "3000000000")) {
      val e = intercept[ConfigCodec.ConfigError](ConfigCodec.fromYaml(
        yaml.replace("maxWriteRowCount: 2000", s"pageSize: $bad")))
      assert(e.msg.contains("pageSize"), e.msg)
    }
    assert(ConfigCodec.fromYaml(yaml.replace("maxWriteRowCount: 2000",
      s"pageSize: ${Int.MaxValue}")).tables.head.pageSize === Some(Int.MaxValue))
  }

  test("a negative pauseMillisBetweenPages fails when the config is parsed") {
    val e = intercept[ConfigCodec.ConfigError](ConfigCodec.fromYaml(
      yaml.replace("maxWriteRowCount: 2000", "pauseMillisBetweenPages: -1")))
    assert(e.msg.contains("pauseMillisBetweenPages"), e.msg)
    assert(ConfigCodec.fromYaml(yaml.replace("maxWriteRowCount: 2000",
      "pauseMillisBetweenPages: 0")).tables.head.pauseMillisBetweenPages === Some(0L))
  }

  test("the shipped example config parses with its declared tables") {
    val cfg = ConfigCodec.fromYamlFile("config/migration-example.yaml")
    assert(cfg.tables.map(t => (t.tableName, t.targetTableName, t.writeMode)) === Seq(
      ("lineitem", None, Upsert),
      ("orders", Some("orders_bucketed"), Upsert),
      ("events", Some("events_counters"), CounterIncrement)))
    assert(cfg.statusIntervalMillis === Some(2000L))
    assert(cfg.tables.head.filters ===
      Seq(FieldValueFilter("row.l_quantity >= 30 && row.l_discount < 0.05")))
  }

  test("a config without tableMigrations fails instead of silently doing nothing") {
    // reference-style 'tables:' root key (ADVICE r2): must not parse as an
    // empty migration that "succeeds"
    val e = intercept[ConfigCodec.ConfigError](ConfigCodec.fromYaml(
      """sourceDB:
        |  path: /data/src
        |targetDB:
        |  path: /data/tgt
        |tables:
        |  - tableName: t1
        |""".stripMargin))
    assert(e.msg.contains("tableMigrations"))
    val e2 = intercept[ConfigCodec.ConfigError](ConfigCodec.fromYaml(
      """sourceDB:
        |  path: /a
        |targetDB:
        |  path: /b
        |tableMigrations: []
        |""".stripMargin))
    assert(e2.msg.contains("tableMigrations"))
  }

  test("parsed config drives the planner (config-as-query round trip)") {
    val spark = graft.SparkTestBase.session
    import spark.implicits._
    val dir = graft.streaming.StreamHarness.tempDir("cfg")
    Seq(("abcd", 2500), ("abcd", 3500), ("efgh", 9000))
      .toDF("part_key_col_1", "clust_key_col_2")
      .write.parquet(s"$dir/src/t.parquet")
    val cfg = ConfigCodec.fromYaml(
      s"""sourceDB:
         |  path: $dir/src
         |targetDB:
         |  path: $dir/tgt
         |tableMigrations:
         |  - tableName: t
         |    filters:
         |      - expression: "row.clust_key_col_2 >= 3000"
         |""".stripMargin)
    val results = graft.pipeline.MigrationPlanner.executeAll(spark, cfg)
    assert(results.head.rowsMigrated === 2L)
  }

  test("anchored config: shared table boilerplate via <<: merge drives the planner") {
    val spark = graft.SparkTestBase.session
    import spark.implicits._
    val dir = graft.streaming.StreamHarness.tempDir("cfg_anchor")
    Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "v")
      .write.parquet(s"$dir/src/t1.parquet")
    Seq((4L, 40), (5L, 50)).toDF("id", "v")
      .write.parquet(s"$dir/src/t2.parquet")
    // the reference's configs share per-table settings through YAML
    // anchors (Jackson resolves them); same shape must drive our planner
    val cfg = ConfigCodec.fromYaml(
      s"""sourceDB:
         |  path: $dir/src
         |targetDB:
         |  path: $dir/tgt
         |defaults: &defaults
         |  filters:
         |    - expression: "row.v >= 20"
         |tableMigrations:
         |  - tableName: t1
         |    <<: *defaults
         |  - tableName: t2
         |    <<: *defaults
         |""".stripMargin)
    val results = graft.pipeline.MigrationPlanner.executeAll(spark, cfg)
    assert(results.map(r => r.table -> r.rowsMigrated).toMap ===
      Map("t1" -> 2L, "t2" -> 2L))
  }
}
