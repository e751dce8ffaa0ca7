package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span from the harness's own code: a call into one layer. Spark jobs
  * become spans too, parented to the span whose thread submitted them.
  * Every span of one sample shares `sample`.
  */
final case class Span(id: Long, parent: Long, sample: Int, name: String,
    start: Long, end: Long)

/** Everything the traced run measures from outside the engine: harness
  * spans, and Spark's public listener events attributed to them.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var sample: Int = -1
  @volatile var measuring = false

  // job id -> (span id, sample, start ms, job description)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Long, String)]()
  final case class TaskRec(stage: Int, sample: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, shWrite: Long, shRead: Long, spill: Long, outBytes: Long, durMs: Long)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stagesDone = new ConcurrentLinkedQueue[(Int, Int)]() // (sample, stage id)
  final case class JobRec(sample: Int, span: Long, start: Long, end: Long, batch: Long,
      stages: Seq[Int])
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
  final case class QueryRec(sample: Int, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, planNodes: Long, at: Long)
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  /** Wall clock in ms: Spark's listener events use the same clock. */
  def now(): Long = System.currentTimeMillis()

  /** Run `body` inside a span named `name`; jobs its thread submits are
    * attributed to the span through a Spark local property.
    */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.get().headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    val start = now()
    open.set(id :: open.get())
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      spans.add(Span(id, parent, sample, name, start, now()))
      open.set(open.get().tail)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  private def addSpan(smp: Int, parent: Long, name: String, start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, smp, name, start, end))
    id
  }

  /** Progress events of the stream run `runId`, in batch order; waits
    * briefly for the listener bus to deliver the last of `expected`.
    */
  def progressOf(runId: String, expected: Int): Seq[StreamingQueryProgress] = {
    def got = progress.asScala.filter(_.runId.toString == runId).toSeq
    val deadline = System.currentTimeMillis() + 5000
    while (got.size < expected && System.currentTimeMillis() < deadline) Thread.sleep(50)
    got.sortBy(_.batchId)
  }

  /** Spans reconstructed after the measured phase: one per micro-batch
    * (from the progress events of each sample's stream run, `runs`:
    * sample -> (run id, batches)) under the sample's `stream.drain` span, and
    * one per Spark job under its micro-batch, or else under the span whose
    * thread submitted it.
    */
  def addBatchAndJobSpans(runs: Map[Int, (String, Int)]): Unit = {
    val streams = spans.asScala.filter(_.name == "stream.drain").map(s => s.sample -> s.id).toMap
    val batchSpan = (for {
      (smp, (runId, n)) <- runs.toSeq
      parent <- streams.get(smp).toSeq
      p <- progressOf(runId, n)
    } yield {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + p.durationMs.getOrDefault("triggerExecution", 0L).toLong
      (smp, p.batchId) -> addSpan(smp, parent, "batch", start, end)
    }).toMap
    jobs.asScala.foreach { j =>
      addSpan(j.sample, batchSpan.getOrElse((j.sample, j.batch), j.span), "job", j.start, j.end)
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStart.put(e.jobId, (span, sample, e.time, desc))
      jobStages.put(e.jobId, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (span, smp, start, desc) = Option(jobStart.remove(e.jobId))
        .getOrElse((0L, sample, e.time, ""))
      val batch = BatchRe.findFirstMatchIn(desc).map(_.group(1).toLong).getOrElse(-1L)
      if (measuring)
        jobs.add(JobRec(smp, span, start, e.time, batch,
          Option(jobStages.remove(e.jobId)).getOrElse(Nil)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (measuring) stagesDone.add((sample, e.stageInfo.stageId))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (measuring && m != null)
        tasks.add(TaskRec(e.stageId, sample, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten, e.taskInfo.duration))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (measuring) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val nodes = qe.optimizedPlan.collect { case p =>
          p.expressions.map(_.collect { case x => x }.size.toLong).sum
        }.sum
        queries.add(QueryRec(sample, ms("analysis"), ms("optimization"), ms("planning"),
          nodes, now()))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (measuring) progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Self time per span name: duration minus the union of its children's
    * intervals, summed over spans of one name.
    */
  def selfTimes(all: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val children = all.groupBy(_.parent)
    all.groupBy(s => normalize(s.name)).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val covered = unionLength(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start) - covered
      }.sum
      name -> (ss.size, total / 1000.0, self / 1000.0)
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val BatchRe = """batch = (\d+)""".r

  private def normalize(name: String): String =
    name.replaceAll("""\d+""", "#")

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
