package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark span: a call from the benchmark into a layer. */
final case class Span(id: Long, name: String, layer: String, thread: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double])

/** A Spark job, recorded by the listener; `parent` is the benchmark span
  * that was open on the submitting thread (0 when none was). */
final case class JobRec(id: Int, parent: Long, desc: String, startMs: Long,
    endMs: Long, ok: Boolean, tasks: Int, recordsRead: Long,
    bytesRead: Long, shuffleWriteBytes: Long, queueMs: Long,
    bytesWritten: Long, filesWritten: Int)

/** Spans and layer counters, kept in memory and written at the end.
  *
  * When off, `span` only runs its body: the untraced run takes the same
  * code path with no listener installed and no per-call bookkeeping. When
  * on, every benchmark call into a layer is a span, the Spark jobs it
  * launches become its children (through a thread-local job property,
  * which Spark also hands to threads created inside the call), and
  * codegen compilations are counted around each span. Nothing is
  * installed inside the library itself.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var enabled = false
  def on: Boolean = enabled
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs: Long = wall0Us + (System.nanoTime() - nano0) / 1000L

  // ---- Spark jobs, stages and tasks ----
  private final class JobAcc(val id: Int, val parent: Long, val desc: String,
      val startMs: Long) {
    var endMs = 0L; var ok = true; var tasks = 0; var recordsRead = 0L
    var bytesRead = 0L; var shuffleWrite = 0L; var queueMs = 0L
    var bytesWritten = 0L; var filesWritten = 0
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  /** Streaming progress phases summed over all micro-batches (ms). */
  private val streamPhases = mutable.Map.empty[String, Double]
  private var streamBatches = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = new JobAcc(e.jobId, parent, desc, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSubmitted(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.recordsRead += m.inputMetrics.recordsRead
          j.bytesRead += m.inputMetrics.bytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
          if (m.outputMetrics.bytesWritten > 0) j.filesWritten += 1
        }
        stageSubmitted.get(e.stageId).foreach(s =>
          j.queueMs += math.max(0L, e.taskInfo.launchTime - s))
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        streamBatches += 1
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          streamPhases(k) = streamPhases.getOrElse(k, 0.0) + v.toDouble
        }
      }
  }
  /** Whether each `noop` write (a timed read or query) ran with at least
    * one whole-stage codegen stage, in execution order. */
  private val noopCodegen = mutable.ArrayBuffer.empty[Boolean]
  def noopWritesWithCodegen: Seq[Boolean] = synchronized(noopCodegen.toSeq)
  private val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
    def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      if (Tracer.isNoopWrite(qe)) Tracer.this.synchronized {
        noopCodegen += Tracer.hasCodegen(qe.executedPlan)
      }
    def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  /** Install the listeners; spans are recorded from here on. */
  def enable(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
    enabled = true
  }

  /** Run `body` as a span named `name` in `layer`: one request, whose
    * Spark jobs become its children. Extra numbers for the span (counts
    * measured by the caller) go through `attrs`. */
  def span[T](name: String, layer: String,
      attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val (c0, ms0) = Codegen.read()
      val start = nowUs
      try body
      finally {
        val end = nowUs
        val (c1, ms1) = Codegen.read()
        sc.setLocalProperty(SpanProp, prev)
        spans.add(Span(id, name, layer, Thread.currentThread().getName, start, end,
          attrs ++ Map("codegen.compiles" -> (c1 - c0).toDouble,
            "codegen.compile_ms" -> (ms1 - ms0))))
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(spark)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)

  def allJobs: Seq[JobRec] = synchronized {
    jobs.values.map(j => JobRec(j.id, j.parent, j.desc, j.startMs,
      if (j.endMs == 0) j.startMs else j.endMs, j.ok, j.tasks,
      j.recordsRead, j.bytesRead, j.shuffleWrite, j.queueMs, j.bytesWritten,
      j.filesWritten)).toSeq
  }

  def streamSnapshot: (Map[String, Double], Int) =
    synchronized((streamPhases.toMap, streamBatches))

  /** Self time of a span: its duration minus the part of it that its
    * child jobs cover: for a tick, the time spent outside Spark jobs. */
  def selfUs(s: Span, children: Seq[JobRec]): Long = {
    val iv = children.map(j => (math.max(j.startMs * 1000L, s.startUs),
        math.min(j.endMs * 1000L, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (s.endUs - s.startUs) - covered)
  }

  /** Write every span, every job (as a child span) and each layer's self
    * time to `path` as one JSON document. */
  def write(path: java.nio.file.Path, extra: Map[String, Any]): Unit = {
    val ss = allSpans
    val js = allJobs
    val byParent = js.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double]
    ss.foreach { s =>
      self(s.layer) = self.getOrElse(s.layer, 0.0) +
        selfUs(s, byParent.getOrElse(s.id, Nil)) / 1000.0
    }
    js.foreach { j =>
      val l = Tracer.jobLayer(j)
      self(l) = self.getOrElse(l, 0.0) + (j.endMs - j.startMs).toDouble
    }
    val doc = extra ++ Map(
      "spans" -> ss.map(s => Map("id" -> s.id, "parent" -> 0,
        "name" -> s.name, "layer" -> s.layer,
        "thread" -> s.thread, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "attrs" -> s.attrs)),
      "jobs" -> js.map(j => Map("id" -> s"job-${j.id}", "parent" -> j.parent,
        "name" -> j.desc, "layer" -> Tracer.jobLayer(j),
        "start_us" -> j.startMs * 1000L, "end_us" -> j.endMs * 1000L,
        "ok" -> j.ok, "tasks" -> j.tasks, "records_read" -> j.recordsRead,
        "bytes_read" -> j.bytesRead, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "queue_ms" -> j.queueMs, "bytes_written" -> j.bytesWritten)),
      "self_ms" -> self.toMap,
      "noop_writes_with_codegen" -> noopWritesWithCodegen)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, Stats.json(doc).getBytes("UTF-8"))
  }
}

object Tracer {
  import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  private object Plans extends AdaptiveSparkPlanHelper

  def isNoopWrite(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
    qe.analyzed.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        w.table.toString.contains("noop-table")
    }.getOrElse(false)

  /** True when the plan (adaptive stages included) has a codegen stage. */
  def hasCodegen(p: SparkPlan): Boolean =
    Plans.find(p)(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  /** Layer of a Spark job: the Store labels its jobs `store: <op> ...`. */
  def jobLayer(j: JobRec): String =
    if (j.desc.startsWith("store: ")) "core.Store" else "spark"

  /** `store: <op>` of a job description, or "" for unlabeled jobs. */
  def storeOp(j: JobRec): String =
    if (!j.desc.startsWith("store: ")) ""
    else j.desc.stripPrefix("store: ").takeWhile(_ != ' ')
}

/** Whole-JVM codegen compilation counters. The compilation-time histogram
  * keeps every sample until it holds 1028 of them, so the sum of its
  * values is exact for the first 1028 compilations and an estimate
  * (count times mean) after that. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def read(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val vs = snap.getValues
    val sum = if (n <= vs.length) vs.map(_.toDouble).sum else snap.getMean * n
    (n, sum)
  }
}
