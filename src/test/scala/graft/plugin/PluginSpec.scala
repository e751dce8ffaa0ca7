package graft.plugin

import graft.SparkTestBase
import graft.config.ConfigCodec
import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A test plugin stage: threshold filter + a derived column — the shape of
  * the reference's custom filter/migrator plugins.
  */
class ThresholdStage extends GraftStage {
  override def apply(df: DataFrame, options: Map[String, String]): DataFrame = {
    val threshold = options.getOrElse("threshold", "0").toLong
    df.filter(col("id") >= threshold)
      .withColumn("tagged", concat(lit(options.getOrElse("tag", "t")), col("id")))
  }
}

class PluginSpec extends SparkTestBase {
  import spark.implicits._

  test("a reflective plugin stage loaded from config drives a migration") {
    val dir = tempDir("plug")
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "payload")
      .write.parquet(s"$dir/src/t.parquet")
    val cfg = ConfigCodec.fromYaml(
      s"""sourceDB:
         |  path: $dir/src
         |targetDB:
         |  path: $dir/tgt
         |tableMigrations:
         |  - tableName: t
         |    simulateOnly: false
         |    filters:
         |      - type: graft.plugin.ThresholdStage
         |        options:
         |          threshold: "7"
         |          tag: "row_"
         |""".stripMargin)
    assert(cfg.tables.head.filters ===
      Seq(PluginFilter("graft.plugin.ThresholdStage",
        Map("threshold" -> "7", "tag" -> "row_"))))
    val results = graft.pipeline.MigrationPlanner.executeAll(spark, cfg)
    assert(results.head.rowsMigrated === 4L) // ids 7..10
    val got = spark.read.parquet(s"$dir/tgt/t.parquet")
      .select("id", "tagged").as[(Long, String)].collect().toSet
    assert(got === Set((7L, "row_7"), (8L, "row_8"), (9L, "row_9"), (10L, "row_10")))
  }

  test("missing plugin class fails with a config-shaped error") {
    val e = intercept[GraftStage.PluginLoadError](
      GraftStage.load("com.nonexistent.NoSuchStage"))
    assert(e.getMessage.contains("not found"))
  }

  test("a class that is not a GraftStage is rejected") {
    val e = intercept[GraftStage.PluginLoadError](
      GraftStage.load("java.lang.StringBuilder"))
    assert(e.getMessage.contains("does not implement"))
  }
}
