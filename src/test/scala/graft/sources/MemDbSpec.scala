package graft.sources

import graft.SparkTestBase
import graft.model._
import graft.sinks.{InMemoryLwtStore, InMemoryLwtWriter, StrictSink}
import graft.sources.memdb.MemStore
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Table-addressed connector path, end to end through the same
  * [[Tables]]/planner code the Cassandra binding would use — only the
  * format string differs in production (VERDICT r2 item 5).
  */
class MemDbSpec extends SparkTestBase {
  import spark.implicits._

  private val fmt = "graft.sources.memdb.MemDb"
  private def ref(db: String) = TableRef(format = fmt, options = Map("db" -> db))

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("val", StringType)))

  test("table-addressed DSv2 source/sink round trip through Tables") {
    MemStore.create("rt", "t1", schema, pk = Seq("id"))
    Tables.write(Seq((1L, "a"), (2L, "b")).toDF("id", "val"),
      ref("rt"), "t1", mode = "append")
    val got = Tables.load(spark, ref("rt"), "t1")
    assert(got.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // append accumulates; overwrite truncates
    Tables.write(Seq((3L, "c")).toDF("id", "val"), ref("rt"), "t1", mode = "append")
    assert(Tables.load(spark, ref("rt"), "t1").count() === 3L)
    Tables.write(Seq((9L, "z")).toDF("id", "val"), ref("rt"), "t1", mode = "overwrite")
    assert(Tables.load(spark, ref("rt"), "t1").as[(Long, String)].collect().toSet ===
      Set((9L, "z")))
  }

  test("loadIfExists treats a missing connector table as absence, not failure") {
    assert(Tables.loadIfExists(spark, ref("rt"), "never_created").isEmpty)
  }

  test("PK discovery reads identity partitioning from the DSv2 table (O21)") {
    MemStore.create("disc", "t2", schema, pk = Seq("id"))
    assert(Tables.discoverPkColumns(spark, ref("disc"), "t2") === Seq("id"))
    // and the planner auto-fills pkColumns: keep-last upsert works with NO
    // declared pkColumns (reference discovers PKs from cluster metadata)
    MemStore.create("disc", "src3", schema, pk = Seq("id"))
    Tables.write(Seq((1L, "old"), (1L, "new"), (2L, "only")).toDF("id", "val"),
      ref("disc"), "src3", mode = "append")
    val cfg = MigrationConfig(ref("disc"), TableRef(path = "/nonexistent_tgt"), Nil)
    val planned = graft.pipeline.MigrationPlanner.plan(spark, cfg, TableMigrationDef(
      tableName = "src3", orderingColumns = Seq("val")))
    val got = planned.data.as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "old", 2L -> "only")) // max_by ordering col
  }

  test("full migration memdb -> memdb through execute(): discovered PKs, " +
      "keep-last, existence filter against the live connector target") {
    // the whole production seam in ONE pass — exactly what the Cassandra
    // binding would run with a different format string: connector source,
    // PK discovery (no pkColumns declared), keep-last pre-aggregation,
    // anti-join against the live target, connector append
    val s = StructType(Seq(StructField("id", LongType),
      StructField("val", StringType), StructField("ver", LongType)))
    MemStore.create("e2e", "src", s, pk = Seq("id"))
    MemStore.create("e2e", "tgt", s, pk = Seq("id"))
    Tables.write(
      Seq((1L, "v1", 1L), (1L, "v2", 2L), (2L, "w", 1L), (3L, "x", 1L))
        .toDF("id", "val", "ver"),
      ref("e2e"), "src", mode = "append")
    // pre-existing target row: id 3 must survive untouched
    Tables.write(Seq((3L, "keep", 9L)).toDF("id", "val", "ver"),
      ref("e2e"), "tgt", mode = "append")
    val cfg = MigrationConfig(ref("e2e"), ref("e2e"), Nil)
    // Upsert + IfNotExistFilter + orderingColumns: keep-last collapses the
    // in-batch duplicate, the anti-join protects the live target row.
    // (Plain InsertIfNotExists mode deliberately does NOT keep-last — its
    // bulk anti-join passes all first-seen rows, the documented delta vs
    // per-row LWT.)
    val res = graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef(
        tableName = "src", targetTableName = Some("tgt"),
        orderingColumns = Seq("ver"),
        filters = Seq(IfNotExistFilter),
        writeMode = Upsert,
        simulateOnly = false))
    val got = Tables.load(spark, ref("e2e"), "tgt")
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "v2", 2L), (2L, "w", 1L), (3L, "keep", 9L)),
      "keep-last picked ver=2 for id 1; id 3 kept the target row")
    assert(res.rowsMigrated === 2L)
  }

  test("re-based TTL column is handed to the connector writer as the per-row TTL option") {
    val ttlSchema = StructType(Seq(
      StructField("id", LongType), StructField("row_ttl_value", LongType)))
    MemStore.create("ttl", "src", ttlSchema, pk = Seq("id"))
    MemStore.create("ttl", "tgt", ttlSchema, pk = Seq("id"))
    Tables.write(Seq((1L, 1000L), (2L, 2000L)).toDF("id", "row_ttl_value"),
      ref("ttl"), "src", mode = "append")
    val cfg = MigrationConfig(ref("ttl"), ref("ttl"), Nil)
    val t = TableMigrationDef("src", targetTableName = Some("tgt"),
      ttl = Some(TtlSpec("row_ttl_value", sourceTableTtl = 86400, targetTableTtl = 604800)),
      simulateOnly = false)
    graft.pipeline.MigrationPlanner.execute(spark, cfg, t)
    // the writer received the ttl option naming the re-based column
    assert(MemStore.lastWriteOptions("ttl", "tgt").get("ttl") === Some("row_ttl_value"))
    // and the written values are re-based: 604800 - (86400 - v)
    val got = Tables.load(spark, ref("ttl"), "tgt")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> (604800L - (86400L - 1000L)),
      2L -> (604800L - (86400L - 2000L))))
  }

  test("upsert into an existing connector table appends (never truncates)") {
    MemStore.create("up", "src", schema, pk = Seq("id"))
    MemStore.create("up", "tgt", schema, pk = Seq("id"))
    Tables.write(Seq((5L, "keep")).toDF("id", "val"), ref("up"), "tgt", mode = "append")
    Tables.write(Seq((1L, "new")).toDF("id", "val"), ref("up"), "src", mode = "append")
    val cfg = MigrationConfig(ref("up"), ref("up"), Nil)
    graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef("src", targetTableName = Some("tgt"), simulateOnly = false))
    // the pre-existing row SURVIVED the upsert (CQL upsert never removes rows)
    val got = Tables.load(spark, ref("up"), "tgt").as[(Long, String)].collect().toSet
    assert(got === Set((5L, "keep"), (1L, "new")))
  }

  test("strict LWT sink: per-row insert-if-not-exists with applied/rejected accounting") {
    InMemoryLwtStore.drop("lwt_t")
    val first = (1 to 100).map(i => (i.toLong, s"first_$i")).toDF("id", "val")
    val second = (51 to 150).map(i => (i.toLong, s"second_$i")).toDF("id", "val")
    val r1 = StrictSink.insertIfNotExists(first.repartition(8), Seq("id"),
      InMemoryLwtWriter("lwt_t"))
    assert(r1 === StrictSink.StrictSinkResult(100L, 0L))
    val r2 = StrictSink.insertIfNotExists(second.repartition(8), Seq("id"),
      InMemoryLwtWriter("lwt_t"))
    assert(r2 === StrictSink.StrictSinkResult(50L, 50L)) // 51..100 rejected
    val t = InMemoryLwtStore.table("lwt_t")
    assert(t.size() === 150)
    // losers never overwrote winners
    assert(t.get(Seq(60L)) === Seq(60L, "first_60"))
    assert(t.get(Seq(120L)) === Seq(120L, "second_120"))
  }

  test("cross-format migration: csv source -> parquet target through the planner") {
    val dir = tempDir("csv")
    Seq((1L, "a", 10.5), (2L, "b", 20.25), (3L, "c", 30.0))
      .toDF("id", "name", "v")
      .write.option("header", "true").csv(s"$dir/src/t.csv")
    val cfg = MigrationConfig(
      TableRef(format = "csv", path = s"$dir/src",
        options = Map("header" -> "true", "inferSchema" -> "true")),
      TableRef(path = s"$dir/tgt"), Nil)
    val r = graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef("t", whereClause = Some("v > 15.0"), simulateOnly = false))
    assert(r.rowsMigrated === 2L)
    val got = spark.read.parquet(s"$dir/tgt/t.parquet")
      .selectExpr("id", "name").as[(Long, String)].collect().toSet
    assert(got === Set((2L, "b"), (3L, "c")))
  }

  test("cross-format migration: orc source -> parquet target") {
    val dir = tempDir("orc")
    Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v").write.orc(s"$dir/src/t.orc")
    val cfg = MigrationConfig(
      TableRef(format = "orc", path = s"$dir/src"),
      TableRef(path = s"$dir/tgt"), Nil)
    val r = graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef("t", simulateOnly = false))
    assert(r.rowsMigrated === 2L)
  }

  test("cross-format migration: json source -> parquet target") {
    val dir = tempDir("json")
    Seq((1L, "x"), (2L, "y")).toDF("id", "tag")
      .write.json(s"$dir/src/t.json")
    val cfg = MigrationConfig(
      TableRef(format = "json", path = s"$dir/src"),
      TableRef(path = s"$dir/tgt"), Nil)
    val r = graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef("t", simulateOnly = false))
    assert(r.rowsMigrated === 2L)
    assert(spark.read.parquet(s"$dir/tgt/t.parquet").count() === 2L)
  }

  test("cross-format migration: raw text corpus -> parquet with derived columns") {
    // line-oriented text is the rawest LLM-ingestion format: one `value`
    // column per line; the planner filters/enriches it like any table
    val dir = tempDir("text")
    Seq("the quick brown fox", "", "jumps over the lazy dog", "short")
      .toDF("value").coalesce(1).write.text(s"$dir/src/corpus.text")
    val cfg = MigrationConfig(
      TableRef(format = "text", path = s"$dir/src"),
      TableRef(path = s"$dir/tgt"), Nil)
    val r = graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef("corpus",
        filters = Seq(FieldValueFilter("row.value.length() > 0")),
        calculatedColumns = Seq(CalculatedColumn("n_chars", "row.value.length()")),
        simulateOnly = false))
    assert(r.rowsMigrated === 3L, "the empty line is filtered out")
    val got = spark.read.parquet(s"$dir/tgt/corpus.parquet")
      .select("value", "n_chars").as[(String, Int)].collect().toMap
    assert(got("the quick brown fox") === 19)
  }

  test("cross-format migration: single-column frame -> text sink") {
    // text sinks take exactly one string column (Spark's own contract);
    // the planner migrates such a frame like any other table
    val dir = tempDir("text_out")
    Seq("alpha beta", "gamma", "skip me").toDF("line")
      .write.parquet(s"$dir/src/t.parquet")
    val cfg = MigrationConfig(
      TableRef(path = s"$dir/src"),
      TableRef(format = "text", path = s"$dir/tgt"), Nil)
    val r = graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef("t",
        filters = Seq(FieldValueFilter("!row.line.startsWith('skip')")),
        simulateOnly = false))
    assert(r.rowsMigrated === 2L)
    assert(spark.read.text(s"$dir/tgt/t.text").as[String].collect().toSet ===
      Set("alpha beta", "gamma"))
  }

  test("cross-format migration: JSONL corpus round trip with filters and derived columns") {
    // line-delimited JSON is the lingua franca of LLM-corpus interchange;
    // Spark's `json` format IS JSONL, so reads/writes flow through the
    // same planner path as any table
    val dir = tempDir("jsonl")
    Seq((1L, "keep one", "en"), (2L, "drop", "de"), (3L, "keep two", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.json(s"$dir/src/docs.json")
    val cfg = MigrationConfig(
      TableRef(format = "json", path = s"$dir/src"),
      TableRef(format = "json", path = s"$dir/tgt"), Nil)
    val r = graft.pipeline.MigrationPlanner.execute(spark, cfg,
      TableMigrationDef("docs",
        filters = Seq(FieldValueFilter("row.lang == 'en'")),
        calculatedColumns = Seq(CalculatedColumn("n_chars", "row.text.length()")),
        simulateOnly = false))
    assert(r.rowsMigrated === 2L)
    val got = spark.read.json(s"$dir/tgt/docs.json")
      .select("doc_id", "n_chars").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 8L, 3L -> 8L))
  }

  test("strict LWT sink: intra-DataFrame duplicate PKs race to one winner") {
    InMemoryLwtStore.drop("lwt_dup")
    // every PK appears twice across partitions — exactly one application each
    val dup = ((1 to 50) ++ (1 to 50)).map(i => (i.toLong, s"v$i")).toDF("id", "val")
    val r = StrictSink.insertIfNotExists(dup.repartition(8), Seq("id"),
      InMemoryLwtWriter("lwt_dup"))
    assert(r.rowsApplied === 50L)
    assert(r.rowsRejected === 50L)
    assert(InMemoryLwtStore.table("lwt_dup").size() === 50)
  }
}
