package graft

import graft.config.ConfigCodec
import graft.pipeline.MigrationPlanner
import org.apache.spark.sql.SparkSession

/**
 * CLI entry point — the counterpart of the reference's
 * `Main.java:27-50` (`-configYaml <file>` → parse → migrate → report).
 *
 * Usage: runMain graft.Main -configYaml config/migration.yaml
 */
object Main {
  def main(args: Array[String]): Unit = {
    val yamlPath = args.sliding(2).collectFirst {
      case Array("-configYaml", p) => p
    }.getOrElse {
      System.err.println("usage: graft.Main -configYaml <file>")
      sys.exit(2)
    }
    val cfg = ConfigCodec.fromYamlFile(yamlPath)
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val results = MigrationPlanner.executeAll(spark, cfg)
    // final per-table summary, like DbMigrator.java:91-106
    results.foreach { r =>
      println(f"[graft] table=${r.table} rowsMigrated=${r.rowsMigrated} " +
        f"rowsFailed=${r.rowsFailed} elapsedMs=${r.elapsedMillis} " +
        f"rowsPerSec=${r.rowsPerSecond}%.0f" +
        (if (r.warnings.nonEmpty) s" warnings=${r.warnings.mkString("; ")}" else ""))
    }
    spark.stop()
  }
}
