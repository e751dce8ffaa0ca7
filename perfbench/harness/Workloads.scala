package perfbench

import scala.jdk.CollectionConverters._

import graft.config.ConfigCodec
import graft.operators.Dedup
import graft.pipeline.{MigrationPlanner, StagePipeline}
import graft.streaming.{StreamingMigration, StreamingNearDup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** What the harness keeps of one drained stream: its run id (the traced
  * run reads its progress events), when each micro-batch started, and how
  * long the first batch took to start after the start() call.
  */
object StreamStats {
  def apply(runId: String, startCallMs: Long, ps: Seq[StreamingQueryProgress]): Map[String, Any] =
    Map("run_id" -> runId, "batches" -> ps.size,
      "batch_start_ms" -> ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli),
      "start_ms" -> ps.headOption.map(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli - startCallMs).getOrElse(0L))
}

/** Five table migrations from one YAML config, run sequentially through
  * the planner with real parquet writes.
  */
final class MigrateBatch extends Workload {
  override def scales = true

  def sample(spark: SparkSession, ctx: Ctx, out: String, warm: Boolean): SampleOut = {
    val target = ctx.path("sample/target")
    Fs.delete(target)
    Fs.copyDir(ctx.path("input/target_seed"), target)
    val t0 = System.nanoTime()
    val cfg = ctx.span("config")(ConfigCodec.fromYamlFile(ctx.path(
      if (warm) "input/warm_config.yaml" else "input/config.yaml")))
    val tables = cfg.tables.map { t =>
      val s = System.nanoTime()
      val r = ctx.span(s"table:${t.resolvedTargetName}")(MigrationPlanner.execute(spark, cfg, t))
      (t.resolvedTargetName, (System.nanoTime() - s) / 1e6, r.rowsMigrated)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (files, bytes) = Fs.dataStats(target)
    Fs.move(target, out)
    SampleOut(wall, ctx.rows, Seq(wall * 1000), out, Map(
      "tables" -> tables.map(t => Map("table" -> t._1, "ms" -> t._2, "rows" -> t._3)),
      "files_written" -> files, "bytes_written" -> bytes))
  }

  override def traced(spark: SparkSession, ctx: Ctx, samples: Seq[SampleOut]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val n = samples.size.toDouble
    for (t <- Seq("pushdown_calc", "insert_new", "keep_last", "counter", "interp_calc")) {
      val rows = samples.flatMap(_.extra("tables").asInstanceOf[Seq[Map[String, Any]]]
        .filter(_("table") == t))
      m(s"pipeline.table.${t}_s") = rows.map(_("ms").asInstanceOf[Double]).sum / 1000 / n
      m(s"pipeline.table.${t}_rows") = rows.map(_("rows").asInstanceOf[Long]).sum / n
    }
    m("sources.files_written") = samples.map(_.extra("files_written").asInstanceOf[Long]).sum / n
    m("sources.bytes_written") = samples.map(_.extra("bytes_written").asInstanceOf[Long]).sum / n
    // construction: the planner's work before the final action, per table
    val target = ctx.path("sample/target")
    Fs.delete(target)
    Fs.copyDir(ctx.path("input/target_seed"), target)
    val cfg = ConfigCodec.fromYamlFile(ctx.path("input/config.yaml"))
    val jobs0 = ctx.tracer.get.jobs.size
    val c0 = System.nanoTime()
    ctx.span("construct")(cfg.tables.foreach(t => MigrationPlanner.plan(spark, cfg, t)))
    m("pipeline.construct_s") = (System.nanoTime() - c0) / 1e9
    m("pipeline.construct_jobs") = (ctx.tracer.get.jobs.size - jobs0).toDouble
    Fs.delete(target)
    m ++= Kernels.expr(spark, ctx, cfg)
    m.toMap
  }
}

/** insert-if-not-exists over a backlog of one-page files, drained one
  * page per micro-batch; existence lives in the stream's keyed state.
  */
final class MigrateStream extends Workload {
  def sample(spark: SparkSession, ctx: Ctx, out: String, warm: Boolean): SampleOut = {
    val target = ctx.path("sample/target")
    val ckpt = ctx.path("sample/checkpoint")
    Fs.delete(ctx.path("sample"))
    Fs.copyDir(ctx.path("input/target_seed"), target)
    val t0 = System.nanoTime()
    val cfg = ConfigCodec.fromYamlFile(ctx.path(
      if (warm) "input/warm_config.yaml" else "input/config.yaml"))
    val startCall = System.currentTimeMillis()
    val q = ctx.span("stream.start")(StreamingMigration.start(
      spark, cfg, cfg.tables.head, ckpt, Trigger.AvailableNow()))
    val ps = ctx.span("stream.drain")(Harness.drain(q))
    val wall = (System.nanoTime() - t0) / 1e9
    val (files, bytes) = Fs.dataStats(target)
    Fs.move(target, out)
    Fs.delete(ctx.path("sample"))
    SampleOut(wall, ctx.rows, ps.map(Harness.triggerMs), out,
      StreamStats(q.runId.toString, startCall, ps) ++
        Map("files_written" -> files, "bytes_written" -> bytes))
  }

  override def traced(spark: SparkSession, ctx: Ctx, samples: Seq[SampleOut]): Map[String, Double] = {
    val n = samples.size.toDouble
    Map("sources.files_written" -> samples.map(_.extra("files_written").asInstanceOf[Long]).sum / n,
      "sources.bytes_written" -> samples.map(_.extra("bytes_written").asInstanceOf[Long]).sum / n)
  }
}

/** The web curation pipeline compiled from YAML over an HTML corpus. */
final class Curate extends Workload {
  override def scales = true

  private def config(ctx: Ctx) = ConfigCodec.pipelineFromYaml(
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ctx.path("input/pipeline.yaml"))), "UTF-8"))

  def sample(spark: SparkSession, ctx: Ctx, out: String, warm: Boolean): SampleOut = {
    val t0 = System.nanoTime()
    val cfg = config(ctx)
    val pages = spark.read.parquet(ctx.path(
      if (warm) "input/warm_pages.parquet" else "input/pages.parquet"))
    val kept = ctx.span("compile")(StagePipeline.compile(cfg, pages))
    ctx.span("write")(kept.select("doc_id", "text", "lang", "quality")
      .write.mode("overwrite").parquet(out))
    val wall = (System.nanoTime() - t0) / 1e9
    SampleOut(wall, ctx.rows, Seq(wall * 1000), out)
  }

  override def traced(spark: SparkSession, ctx: Ctx, samples: Seq[SampleOut]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val t = ctx.tracer.get
    val cfg = config(ctx)
    val pages = spark.read.parquet(ctx.path("input/pages.parquet"))
    // construction: compile() runs the eager snapshot jobs
    val jobs0 = t.jobs.size
    val c0 = System.nanoTime()
    ctx.span("construct")(StagePipeline.compile(cfg, pages))
    m("pipeline.construct_s") = (System.nanoTime() - c0) / 1e9
    m("pipeline.construct_jobs") = (t.jobs.size - jobs0).toDouble
    // stage time: materializing stage i minus materializing stage i-1
    val stages = StagePipeline.stagesOf(cfg, pages)
    var prev = 0.0
    stages.foreach { case (label, df) =>
      val s = System.nanoTime()
      ctx.span(s"stage:$label")(df.write.format("noop").mode("overwrite").save())
      val secs = (System.nanoTime() - s) / 1e9
      if (label != "a0_input") {
        val stage = label.dropWhile(_ != '_').drop(1)
        m(s"pipeline.stage.${stage}_s") = math.max(0.0, secs - prev)
        m(s"pipeline.stage.${stage}_rows") = df.count().toDouble
      }
      prev = secs
    }
    val gated = stages.find(_._1.endsWith("qualityGate")).get._2
      .select(col("doc_id"), col("text")).localCheckpoint(eager = true)
    m ++= Kernels.lshPairs(spark, gated, "doc_id", lit(true),
      Dedup.minhashNearDupPairs(gated, "doc_id", "text", 0.7).count())
    val texts = StagePipeline.htmlExtract(pages, 5).select("text").limit(400)
      .collect().map(_.getString(0))
    m ++= Kernels.functions(texts, withCuration = true)
    m.toMap
  }
}

/** Streaming near-duplicate screen against a seeded LSM index, one
  * document file per micro-batch.
  */
final class NearDupStream extends Workload {
  private var seedS = 0.0

  override def setup(spark: SparkSession, ctx: Ctx): Unit = {
    Fs.delete(ctx.path("seeded"))
    val s = System.nanoTime()
    StreamingNearDup.seedIndex(spark.read.parquet(ctx.path("input/seed.parquet")),
      "id", "text", ctx.path("seeded/index"), ctx.path("seeded/docs"))
    seedS = (System.nanoTime() - s) / 1e9
  }

  def sample(spark: SparkSession, ctx: Ctx, out: String, warm: Boolean): SampleOut = {
    Fs.delete(ctx.path("sample"))
    Fs.copyDir(ctx.path("seeded"), ctx.path("sample"))
    val (idx, docs) = (ctx.path("sample/index"), ctx.path("sample/docs"))
    val schema = spark.read.parquet(ctx.path("input/seed.parquet")).schema
    val t0 = System.nanoTime()
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(ctx.path(if (warm) "input/warm_stream" else "input/stream"))
    val startCall = System.currentTimeMillis()
    val q = ctx.span("stream.start")(StreamingNearDup.start(spark, src,
      "id", "text", idx, docs, ctx.path("sample/pairs"), ctx.path("sample/checkpoint"),
      threshold = 0.7))
    val ps = ctx.span("stream.drain")(Harness.drain(q))
    val wall = (System.nanoTime() - t0) / 1e9
    def isTail(p: java.nio.file.Path) = p.toString.contains("/tail/")
    val lsm = Seq(idx, docs).map { d =>
      val (tailFiles, tailBytes) = Fs.dataStats(d, isTail)
      val (_, allBytes) = Fs.dataStats(d)
      (allBytes - tailBytes, tailBytes, tailFiles)
    }
    Fs.move(ctx.path("sample/pairs"), out)
    Fs.delete(ctx.path("sample"))
    SampleOut(wall, ctx.rows, ps.map(Harness.triggerMs), out,
      StreamStats(q.runId.toString, startCall, ps) ++ Map(
      "lsm_base_bytes" -> lsm.map(_._1).sum, "lsm_tail_bytes" -> lsm.map(_._2).sum,
      "lsm_tail_files" -> lsm.map(_._3).sum))
  }

  override def traced(spark: SparkSession, ctx: Ctx, samples: Seq[SampleOut]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val n = samples.size.toDouble
    m("streaming.seed_s") = seedS
    for (k <- Seq("lsm_base_bytes", "lsm_tail_bytes", "lsm_tail_files"))
      m(s"streaming.$k") = samples.map(_.extra(k).asInstanceOf[Long]).sum / n
    val seed = spark.read.parquet(ctx.path("input/seed.parquet"))
    val stream = spark.read.parquet(ctx.path("input/stream"))
    val all = seed.unionByName(stream).localCheckpoint(eager = true)
    val firstStreamed = stream.agg(min("id")).head().getLong(0)
    val verified = samples.map(s => spark.read.parquet(s.out).count()).sum / n
    m ++= Kernels.lshPairs(spark, all, "id", col("idB") >= firstStreamed, verified.toLong)
    m ++= Kernels.functions(seed.select("text").limit(400).collect().map(_.getString(0)),
      withCuration = false)
    m.toMap
  }
}

/** Per-layer numbers computed from listener records and harness calls. */
object Layers {
  private def perSample(samples: Seq[SampleOut]) = math.max(1, samples.size).toDouble

  def spark(t: Tracer, samples: Seq[SampleOut]): Map[String, Double] = {
    val n = perSample(samples)
    val jobs = t.jobs.asScala.toSeq
    val tasks = t.tasks.asScala.toSeq
    val qs = t.queries.asScala.toSeq
    val spans = t.spans.asScala.toSeq.filter(_.name == "sample")
    val driverOnly = spans.map { s =>
      val iv = jobs.filter(_.sample == s.sample).map(j => (j.start, j.end))
      ((s.end - s.start) - Tracer.unionLength(iv)) / 1000.0
    }
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs.toDouble).sorted
      val med = Harness.median(d)
      if (med > 0) d.last / med else 1.0
    }
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> t.stagesDone.size / n,
      "spark.tasks" -> tasks.size / n,
      "spark.driver_only_s" -> driverOnly.sum / n,
      "spark.analysis_s" -> qs.map(_.analysisMs).sum / 1000.0 / n,
      "spark.optimization_s" -> qs.map(_.optimizationMs).sum / 1000.0 / n,
      "spark.planning_s" -> qs.map(_.planningMs).sum / 1000.0 / n,
      "spark.plan_nodes" -> qs.sortBy(_.at).lastOption.map(_.planNodes.toDouble).getOrElse(0.0),
      "spark.task_busy_s" -> tasks.map(_.runMs).sum / 1000.0 / n,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "spark.task_gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
      "spark.input_bytes" -> tasks.map(_.inBytes).sum / n,
      "spark.shuffle_write_bytes" -> tasks.map(_.shWrite).sum / n,
      "spark.shuffle_read_bytes" -> tasks.map(_.shRead).sum / n,
      "spark.spill_bytes" -> tasks.map(_.spill).sum / n,
      "spark.output_bytes" -> tasks.map(_.outBytes).sum / n,
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }

  def streaming(t: Tracer, samples: Seq[SampleOut]): Map[String, Double] = {
    if (!samples.head.extra.contains("run_id")) return Map.empty
    val n = perSample(samples)
    val runs = samples.map(s => t.progressOf(s.extra("run_id").toString,
      s.extra("batches").asInstanceOf[Int]))
    val durs = runs.map(_.map(_.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap))
    val rest = durs.flatMap(_.drop(1))
    def p50(keys: String*) = Harness.median(rest.map(d => keys.map(k => d.getOrElse(k, 0L)).sum.toDouble))
    val state = runs.map(_.map(p => p.stateOperators.headOption.map(s =>
      Seq(s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)).getOrElse(Seq(0L, 0L, 0L))))
    val jobs = t.jobs.asScala.toSeq.filter(_.batch >= 0)
    val perBatch = jobs.groupBy(j => (j.sample, j.batch))
    val stageBatch = jobs.flatMap(j => j.stages.map(_ -> (j.sample, j.batch))).toMap
    val inBytes = t.tasks.asScala.toSeq.flatMap(tk => stageBatch.get(tk.stage).map(_ -> tk.inBytes))
      .groupBy(_._1).values.map(_.map(_._2).sum.toDouble).toSeq
    Map(
      "streaming.start_ms" -> samples.map(_.extra("start_ms").asInstanceOf[Long]).sum / n,
      "streaming.batches" -> durs.map(_.size).sum / n,
      "streaming.jobs_per_batch" -> Harness.median(perBatch.values.map(_.size.toDouble).toSeq),
      "streaming.first_batch_ms" -> durs.map(_.head.getOrElse("triggerExecution", 0L)).sum / n,
      "streaming.offsets_p50_ms" -> p50("latestOffset", "getBatch"),
      "streaming.planning_p50_ms" -> p50("queryPlanning"),
      "streaming.add_batch_p50_ms" -> p50("addBatch"),
      "streaming.commit_p50_ms" -> p50("walCommit", "commitOffsets"),
      "streaming.state_rows" -> state.map(_.last(0)).sum / n,
      "streaming.state_memory_mb" -> state.map(_.last(1)).sum / 1048576.0 / n,
      "streaming.state_commit_p50_ms" -> Harness.median(state.flatMap(_.drop(1)).map(_(2).toDouble)),
      "streaming.batch_input_bytes_p50" -> Harness.median(inBytes))
  }
}
