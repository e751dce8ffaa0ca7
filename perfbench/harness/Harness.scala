package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** What one timed call into the engine did: its wall time, the input rows
  * it consumed, and its batch durations (the micro-batches of a stream, or
  * the one config or pipeline run of a batch workload).
  */
final case class SampleOut(wallS: Double, rows: Long, batchesMs: Seq[Double],
    out: String, extra: Map[String, Any] = Map.empty)

final class Ctx(val work: String, val rows: Long, val tracer: Option[Tracer]) {
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def path(rel: String): String = s"$work/$rel"
}

trait Workload {
  /** Program-side state the measured calls start from (part of setup). */
  def setup(spark: SparkSession, ctx: Ctx): Unit = ()
  /** Restore the sample's inputs (untimed), make the timed call, leave its
    * output at `out` for the checker.
    */
  def sample(spark: SparkSession, ctx: Ctx, out: String, warm: Boolean = false): SampleOut
  /** Layer metrics that need extra calls; traced run only. */
  def traced(spark: SparkSession, ctx: Ctx, samples: Seq[SampleOut]): Map[String, Double] =
    Map.empty
  /** Whether the traced run also measures the local[1] rate. */
  def scales: Boolean = false
}

/** The benchmark's JVM side: builds the session, sets up several times,
  * measures samples for the requested seconds, and writes everything it
  * saw to `<work>/jvm.json` for the Python side to check and summarize.
  *
  * Usage: Harness <workload> <workDir> <seconds> <trace 0|1> <t0 epoch ms>
  *   <cpus> <setups> <measured rows per sample>
  */
object Harness {

  def session(cpus: Int): SparkSession = SparkSession.builder()
    .appName("perfbench")
    .master(s"local[$cpus]")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(name, work, secondsS, traceS, t0S, cpusS, setupsS, rowsS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val w: Workload = name match {
      case "migrate-batch" => new MigrateBatch
      case "migrate-stream" => new MigrateStream
      case "curate" => new Curate
      case "neardup-stream" => new NearDupStream
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var mark = t0S.toLong
    val plain = new Ctx(work, rowsS.toLong, None)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime - t0S.toLong
    val mainMs = System.currentTimeMillis() - t0S.toLong
    var sessionMs = 0L
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // (process CPU ns, machine steal ticks) at a point in time: the Python
    // side turns the deltas over each setup and sample into the share of
    // its runnable time the host gave to other guests
    def usage(): (Long, Long) = (os.getProcessCpuTime, cpuTicks().lift(7).getOrElse(0L))
    def delta(a: (Long, Long)): Seq[Double] = {
      val b = usage()
      Seq((b._1 - a._1) / 1e9, (b._2 - a._2).toDouble)
    }
    val setupUsage = mutable.ArrayBuffer[Seq[Double]]()
    var setupStart = (0L, cpuTicks().lift(7).getOrElse(0L))
    for (k <- 1 to setupsS.toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        // the previous setup's garbage is collected outside the next one
        System.gc()
        mark = System.currentTimeMillis()
        setupStart = usage()
      }
      spark = session(cpus)
      if (k == 1) sessionMs = System.currentTimeMillis() - t0S.toLong
      w.setup(spark, plain)
      val warm = plain.path("warmup")
      w.sample(spark, plain, warm, warm = true)
      Fs.delete(warm)
      setups += (System.currentTimeMillis() - mark) / 1000.0
      setupUsage += delta(setupStart)
    }

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.register())
    val ctx = new Ctx(work, rowsS.toLong, tracer)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    def gcCount = gcBeans.map(_.getCollectionCount).sum
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs; val gcN0 = gcCount; val cpu0 = os.getProcessCpuTime
    val cpuTicks0 = cpuTicks()
    val usageLog = new UsageLog(() => usage())
    spark.streams.addListener(usageLog)
    usageLog.record()
    val start = System.nanoTime()
    tracer.foreach(_.measuring = true)
    val samples = mutable.ArrayBuffer[SampleOut]()
    val sampleUsage = mutable.ArrayBuffer[Seq[Double]]()
    while (samples.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      tracer.foreach(_.sample = samples.size)
      val out = ctx.path(s"out/s${samples.size}")
      val u0 = usage()
      samples += ctx.span(s"sample")(w.sample(spark, ctx, out))
      sampleUsage += delta(u0)
    }
    val phaseS = (System.nanoTime() - start) / 1e9
    usageLog.record()
    spark.streams.removeListener(usageLog)
    val ticks = cpuTicks().zip(cpuTicks0).map { case (a, b) => a - b }
    tracer.foreach(_.measuring = false)
    val cpuUtil = (os.getProcessCpuTime - cpu0) / 1e9 / (phaseS * cpus)
    val gcS = (gcMs - gc0) / 1000.0
    val gcN = gcCount - gcN0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    // the second collection also frees what Spark's ContextCleaner released
    // after the first one (unreferenced checkpoint and shuffle blocks)
    System.gc(); Thread.sleep(1000); System.gc()
    val rt = Runtime.getRuntime
    val retainedMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0

    val layers = mutable.LinkedHashMap[String, Double]()
    var spanReport: Seq[Map[String, Any]] = Nil
    tracer.foreach { t =>
      t.addBatchAndJobSpans(samples.zipWithIndex.collect {
        case (s, i) if s.extra.contains("run_id") =>
          i -> (s.extra("run_id").toString, s.extra("batches").asInstanceOf[Int])
      }.toMap)
      layers ++= Layers.spark(t, samples.toSeq)
      layers ++= Layers.streaming(t, samples.toSeq)
      layers ++= Map("jvm.gc_s" -> gcS, "jvm.gc_count" -> gcN.toDouble,
        "jvm.heap_peak_mb" -> heapPeakMb, "jvm.cpu_util" -> cpuUtil)
      t.measuring = true
      t.sample = -1
      layers ++= w.traced(spark, ctx, samples.toSeq)
      t.measuring = false
      t.unregister()
      val all = t.spans.asScala.toSeq
      spanReport = t.selfTimes(all.filter(_.sample >= 0)).toSeq.sortBy(-_._2._3).map {
        case (n, (count, total, self)) =>
          Map("span" -> n, "count" -> count, "total_s" -> total, "self_s" -> self)
      }
      Fs.writeString(ctx.path("spans.json"), Json(all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "sample" -> s.sample, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))))
    }
    val facts = Map(
      "cpus" -> cpus, "master" -> s"local[$cpus]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> rt.maxMemory() / 1048576L,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "first_setup_ms" -> Map("jvm_start" -> jvmStartMs, "main" -> mainMs,
        "session" -> sessionMs),
      // machine CPU shares over the measured phase, from /proc/stat: steal
      // is time the host ran other guests while this one had work
      "cpu_shares" -> (if (ticks.isEmpty) Map.empty[String, Double] else {
        val total = ticks.sum.toDouble
        Seq("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
          .zip(ticks).map { case (n, t) => n -> t / total }.toMap
      }))
    if (trace && w.scales) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      spark = session(1)
      w.setup(spark, plain)
      w.sample(spark, plain, plain.path("scaling"), warm = true)
      val one = w.sample(spark, plain, plain.path("scaling"))
      Fs.delete(plain.path("scaling"))
      val multi = samples.map(_.rows).sum / samples.map(_.wallS).sum
      layers("scaling.speedup") = multi / (one.rows / one.wallS)
    }

    val result = Map(
      "workload" -> name,
      "facts" -> facts,
      "setups_s" -> setups,
      "setup_usage" -> setupUsage,
      "retained_heap_mb" -> retainedMb,
      "usage_series" -> usageLog.points,
      "samples" -> samples.zip(sampleUsage).map { case (s, u) => Map("wall_s" -> s.wallS,
        "rows" -> s.rows, "batches_ms" -> s.batchesMs, "out" -> s.out, "usage" -> u,
        "extra" -> s.extra) },
      "per_layer" -> layers,
      "spans" -> spanReport)
    Fs.writeString(ctx.path("jvm.json"), Json(result))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Machine-wide CPU tick counters (the `cpu` line of /proc/stat); empty
    * where that file does not exist.
    */
  def cpuTicks(): Seq[Long] = {
    val f = new File("/proc/stat")
    if (!f.exists()) Nil
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong).toSeq
      finally src.close()
    }
  }

  /** Drain a streaming query to termination and return its progress. */
  def drain(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.sortBy(_.batchId)
  }

  def triggerMs(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
}

/** Records (epoch ms, process CPU ns, machine steal ticks) when the
  * measured phase starts and ends and each time a streaming query starts,
  * finishes a micro-batch or ends, so that the Python side can scale each
  * micro-batch by the unstolen share of its own interval. It reads the
  * counters on Spark's listener thread and starts no thread of its own.
  */
final class UsageLog(usage: () => (Long, Long)) extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[Seq[Long]]()

  def record(): Unit = {
    val (cpu, steal) = usage()
    buf.synchronized(buf += Seq(System.currentTimeMillis(), cpu, steal))
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = record()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = record()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = record()

  def points: Seq[Seq[Long]] = buf.synchronized(buf.sortBy(_.head).toSeq)
}

object Fs {
  def delete(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
    }
  }

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def move(from: String, to: String): Unit = {
    delete(to)
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to))
  }

  /** (data files, bytes) under a directory, ignoring Spark's marker and
    * checksum files.
    */
  def dataStats(p: String, filter: Path => Boolean = _ => true): (Long, Long) = {
    val f = new File(p)
    if (!f.exists()) return (0L, 0L)
    val files = Files.walk(f.toPath).iterator().asScala
      .filter(x => Files.isRegularFile(x) && filter(x)).filter { x =>
        val n = x.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  def writeString(p: String, s: String): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.write(Paths.get(p), s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
