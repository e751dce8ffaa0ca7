package graft.config

import graft.model._

/**
 * YAML → [[graft.model.MigrationConfig]] codec — the config front-end the
 * reference drives from the CLI (reference: Main.java:29-45 →
 * Config.parseFromYamlFile, model/config/Config.java:15-19). Field names
 * mirror the reference's where the concept survives
 * (TableMigrationDefinition.java:17-139); unrecognized keys (e.g. the
 * reference's thread/timeout knobs, which have no Spark counterpart) are
 * reported on stderr rather than silently ignored. [[Yaml]] reads the text
 * with SnakeYAML into maps, lists and source-string scalars; every type
 * (numbers, booleans, enums) and range is checked here.
 */
object ConfigCodec {

  final case class ConfigError(msg: String) extends RuntimeException(msg)

  def fromYamlFile(path: String): MigrationConfig =
    fromYaml(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  private val knownRootKeys =
    Set("sourceDB", "targetDB", "tableMigrations", "parallel", "statusIntervalMillis")

  def fromYaml(yaml: String): MigrationConfig = {
    val root = asMap(Yaml.parse(yaml), "document root")
    // reference-style or typo'd root keys (e.g. 'tables:') must not produce
    // a silent do-nothing run: surface every unknown root key, and fail
    // outright when no tableMigrations are declared
    (root.keySet -- knownRootKeys).foreach { k =>
      System.err.println(s"[graft-config] ignoring unrecognized root key '$k'" +
        (if (k == "tables") " (did you mean 'tableMigrations'?)" else ""))
    }
    val tables = asList(root.getOrElse("tableMigrations", Nil), "tableMigrations")
      .map(m => tableDef(asMap(m, "table migration")))
    if (tables.isEmpty) throw ConfigError(
      "config declares no 'tableMigrations' — an empty migration would " +
        "silently succeed doing nothing; declare at least one table")
    MigrationConfig(
      source = tableRef(root, "sourceDB"),
      target = tableRef(root, "targetDB"),
      tables = tables,
      parallel = bool(root, "parallel", default = false),
      statusIntervalMillis =
        root.get("statusIntervalMillis").map(v => parseLong(v, "statusIntervalMillis")))
  }

  private def tableRef(root: Map[String, Any], key: String): TableRef = {
    val m = asMap(root.getOrElse(key,
      throw ConfigError(s"missing '$key' section")), key)
    TableRef(
      format = str(m, "format", "parquet"),
      path = str(m, "path", ""),
      options = strMap(m, "options"))
  }

  private val knownTableKeys = Set(
    "tableName", "targetTableName", "whereClause", "maxReadRowCount",
    "maxWriteRowCount", "filters", "calculatedColumns", "writeMode",
    "pkColumns", "counterColumns", "ttl", "simulateOnly",
    "continueOnRowError", "pageSize", "pauseMillisBetweenPages",
    "patchNullsFromTarget", "orderingColumns")

  private def tableDef(m: Map[String, Any]): TableMigrationDef = {
    (m.keySet -- knownTableKeys).foreach { k =>
      System.err.println(s"[graft-config] ignoring unrecognized key '$k' " +
        s"in table migration '${m.getOrElse("tableName", "?")}'")
    }
    TableMigrationDef(
      tableName = str(m, "tableName", null) match {
        case null => throw ConfigError("table migration missing 'tableName'")
        case v => v
      },
      targetTableName = m.get("targetTableName").map(_.toString),
      whereClause = m.get("whereClause").map(_.toString),
      maxReadRowCount = m.get("maxReadRowCount").map(v => parseLong(v, "maxReadRowCount")),
      maxWriteRowCount = m.get("maxWriteRowCount").map(v => parseLong(v, "maxWriteRowCount")),
      filters = asList(m.getOrElse("filters", Nil), "filters").map(filterDef),
      calculatedColumns = asList(m.getOrElse("calculatedColumns", Nil), "calculatedColumns")
        .map { c =>
          val cm = asMap(c, "calculated column")
          CalculatedColumn(
            required(cm, "targetColumn", "calculated column"),
            required(cm, "expression", "calculated column"))
        },
      writeMode = str(m, "writeMode", "upsert").toLowerCase match {
        case "upsert" => Upsert
        case "insertifnotexists" | "insert-if-not-exists" => InsertIfNotExists
        case "counterincrement" | "counter" => CounterIncrement
        case other => throw ConfigError(s"unknown writeMode '$other'")
      },
      pkColumns = strList(m, "pkColumns"),
      counterColumns = strList(m, "counterColumns"),
      ttl = m.get("ttl").map { v =>
        val tm = asMap(v, "ttl")
        TtlSpec(required(tm, "ttlColumn", "ttl"),
          parseLong(required(tm, "sourceTableTtl", "ttl"), "sourceTableTtl"),
          parseLong(required(tm, "targetTableTtl", "ttl"), "targetTableTtl"))
      },
      simulateOnly = bool(m, "simulateOnly", default = true),
      continueOnRowError = m.get("continueOnRowError").map(v => parseBool(v, "continueOnRowError")),
      // checked here, not once a stream starts (or never, in batch mode)
      pageSize = m.get("pageSize").map(v => parseLongIn(v, "pageSize", 1, Int.MaxValue).toInt),
      pauseMillisBetweenPages = m.get("pauseMillisBetweenPages")
        .map(v => parseLongIn(v, "pauseMillisBetweenPages", 0, Long.MaxValue)),
      patchNullsFromTarget = bool(m, "patchNullsFromTarget", default = false),
      orderingColumns = strList(m, "orderingColumns"))
  }

  private def filterDef(v: Any): FilterDef = {
    val m = asMap(v, "filter")
    str(m, "type", "FieldValueFilter") match {
      case "FieldValueFilter" => FieldValueFilter(str(m, "expression", null) match {
        case null => throw ConfigError("FieldValueFilter missing 'expression'")
        case e => e
      })
      case "IfNotExistFilter" => IfNotExistFilter
      case cls if cls.contains(".") =>
        // reference plugin contract: a fully-qualified class name, loaded
        // reflectively (TableDataFilterDefinition.java:53-71); options map
        // passes through to the stage
        PluginFilter(cls, strMap(m, "options"))
      case other => throw ConfigError(
        s"unknown filter type '$other' (built-ins: FieldValueFilter, " +
          "IfNotExistFilter; or a fully-qualified graft.plugin.GraftStage class)")
    }
  }

  // ------------------------------------------------- pipeline config (c31)

  private val knownStageKeys = Set("stage", "options", "materialize")

  /** YAML → [[graft.model.PipelineConfig]]: the config-as-query front-end
    * extended from table migrations to the training-data operator family.
    * Shape:
    * {{{
    * pipeline:
    *   name: curation
    *   stages:
    *     - stage: qualityGate
    *       materialize: true
    *       options:
    *         lang: en
    *         minQuality: "0.9"
    * }}}
    * Stage names resolve against [[graft.pipeline.StagePipeline.registry]]
    * (or a fully-qualified GraftStage class); resolution happens at
    * COMPILE time so a typo'd stage fails before any data moves —
    * mirroring the reference's init-time plugin loading
    * (DbMigrator.java:59-74 aborts the whole run on any task init error).
    */
  def pipelineFromYaml(yaml: String): PipelineConfig = {
    val root = asMap(Yaml.parse(yaml), "document root")
    val p = asMap(root.getOrElse("pipeline",
      throw ConfigError("missing 'pipeline' section")), "pipeline")
    (p.keySet -- Set("name", "stages")).foreach { k =>
      System.err.println(s"[graft-config] ignoring unrecognized pipeline key '$k'")
    }
    val stages = asList(p.getOrElse("stages", Nil), "stages").map { s =>
      val sm = asMap(s, "stage")
      (sm.keySet -- knownStageKeys).foreach { k =>
        System.err.println(s"[graft-config] ignoring unrecognized key '$k' " +
          s"in stage '${sm.getOrElse("stage", "?")}'")
      }
      StageDef(
        stage = required(sm, "stage", "pipeline stage"),
        options = strMap(sm, "options"),
        materialize = bool(sm, "materialize", default = false))
    }
    if (stages.isEmpty) throw ConfigError(
      "pipeline declares no 'stages' — an empty pipeline would silently " +
        "pass data through; declare at least one stage")
    PipelineConfig(str(p, "name", "pipeline"), stages)
  }

  // ------------------------------------------------------------- helpers

  private def asMap(v: Any, what: String): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case other => throw ConfigError(s"expected a map for $what, got: $other")
  }
  private def asList(v: Any, what: String): List[Any] = v match {
    case l: List[_] => l
    case other => throw ConfigError(s"expected a list for $what, got: $other")
  }
  private def required(m: Map[String, Any], key: String, what: String): String =
    m.get(key).map(_.toString).getOrElse(
      throw ConfigError(s"$what missing required key '$key'"))
  private def str(m: Map[String, Any], key: String, default: String): String =
    m.get(key).map(_.toString).getOrElse(default)
  private def strMap(m: Map[String, Any], key: String): Map[String, String] =
    m.get(key).map(asMap(_, key).map { case (k, v) => k -> v.toString }).getOrElse(Map.empty)
  private def strList(m: Map[String, Any], key: String): Seq[String] =
    m.get(key).map(asList(_, key).map(_.toString)).getOrElse(Nil)
  private def bool(m: Map[String, Any], key: String, default: Boolean): Boolean =
    m.get(key).map(v => parseBool(v, key)).getOrElse(default)
  private def parseBool(v: Any, what: String): Boolean = v.toString.toLowerCase match {
    case "true" | "yes" => true
    case "false" | "no" => false
    case other => throw ConfigError(s"expected boolean for $what, got '$other'")
  }
  private def parseLong(v: Any, what: String): Long =
    try v.toString.toLong
    catch { case _: NumberFormatException =>
      throw ConfigError(s"expected number for $what, got '$v'") }
  private def parseLongIn(v: Any, what: String, min: Long, max: Long): Long =
    Some(parseLong(v, what)).filter(n => n >= min && n <= max).getOrElse(
      throw ConfigError(s"$what must be in [$min, $max], got '$v'"))
}
