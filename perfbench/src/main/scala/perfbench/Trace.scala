package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * job and stage events carry, so benchmark spans and scheduler spans
  * share one axis. Every span of a run carries the run's trace id.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: ListMap[String, Any] = ListMap.empty) {
  def wallMs: Double = endMs - startMs
}

/** Task totals of one stage attempt, filled from task-end events. */
final class StageRec {
  var jobId: Int = -1
  var name: String = ""
  var submitMs: Long = 0L
  var endMs: Long = 0L
  var tasks: Int = 0
  var runMs: Long = 0L
  var cpuNs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  val taskRunMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

final class JobRec(val jobId: Int, val startMs: Long, val parentSpan: Long,
    val streamQueryId: String, val batchId: Long) {
  var endMs: Long = startMs
}

/** Aggregates of the scheduler and executor layer (`exec`) over a set of
  * benchmark spans; see [[Tracer.execOf]].
  */
final case class ExecAgg(jobs: Int, stages: Int, tasks: Int, wallMs: Double,
    stageUnionMs: Double, runMs: Long, cpuNs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, taskSkew: Double, cores: Int) {
  def schedGapMs: Double = wallMs - stageUnionMs
  def coreUtil: Double = if (wallMs <= 0) 0.0 else runMs / (wallMs * cores)
  def metrics(prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.jobs", jobs.toDouble, "count"),
    (s"$prefix.stages", stages.toDouble, "count"),
    (s"$prefix.tasks", tasks.toDouble, "count"),
    (s"$prefix.executor_run_s", runMs / 1e3, "s"),
    (s"$prefix.executor_cpu_s", cpuNs / 1e9, "s"),
    (s"$prefix.sched_gap_s", schedGapMs / 1e3, "s"),
    (s"$prefix.core_util", coreUtil, "ratio"),
    (s"$prefix.shuffle_write_mb", shuffleWriteBytes / 1048576.0, "MB"),
    (s"$prefix.spill_mb", spillBytes / 1048576.0, "MB"),
    (s"$prefix.task_skew", taskSkew, "ratio"))
}

/** The traced pass's recorder. It listens on Spark's public listener
  * APIs only: a `SparkListener` for jobs, stages and tasks, a
  * `QueryExecutionListener` for per-query planning time and a
  * `StreamingQueryListener` for micro-batch progress. Benchmark-side
  * spans (workload, query, chunk) are opened around calls into the
  * program; a job finds its parent through a local property the
  * benchmark sets on the calling thread, which Spark copies into every
  * job's properties (and into the threads a streaming query starts).
  * Everything stays in memory until [[spanJson]] renders it.
  */
final class Tracer(spark: SparkSession, val name: String, val traceId: String, val cores: Int)
    extends SparkListener with QueryExecutionListener {

  import Tracer._

  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execDesc = new ConcurrentHashMap[Long, String]()
  private val barriers = new ConcurrentHashMap[String, CountDownLatch]()
  /** query-execution callbacks by execution name: (planning ms, execution ms). */
  private val executions = new ConcurrentHashMap[String, (Double, Double)]()
  /** streaming progress events in arrival order. */
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  /** streaming queries started but whose termination event has not arrived. */
  private val openQueries = ConcurrentHashMap.newKeySet[java.util.UUID]()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      openQueries.add(e.id)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      openQueries.remove(e.id)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  /** Stops listening once every event posted so far has arrived. Progress
    * comes on the streaming listener queue, which the barrier does not
    * cover: a stopped query's termination event follows its last progress,
    * so wait for those too.
    */
  def unregister(): Unit = {
    barrier()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!openQueries.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    if (!openQueries.isEmpty)
      throw new IllegalStateException("streaming listener queue did not drain within 60 s")
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }

  def newId(): Long = ids.getAndIncrement()

  /** Runs `body` as a span of `kind` under `parent`; jobs it starts on
    * this thread (or on threads it creates) get this span as parent.
    */
  def span[T](kind: String, name: String, parent: Long, id: Long = newId())(
      body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, parent, kind, name, startMs, startMs + (System.nanoTime() - t0) / 1e6)
      spans.add(s)
      (out, s)
    } finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Records an already measured span (e.g. a micro-batch trigger). */
  def add(s: Span): Unit = spans.add(s)

  /** Waits until the listener has seen every event posted before this
    * call: it posts an empty SQL execution and waits for its end event,
    * which the listener queue delivers after all earlier events.
    */
  def barrier(): Unit = {
    val tag = s"perfbench-barrier-${newId()}"
    val latch = new CountDownLatch(1)
    barriers.put(tag, latch)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try SQLExecution.withNewExecutionId(barrierQe, Some(tag))(())
    finally sc.setLocalProperty("spark.job.description", prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener queue did not drain within 60 s")
    barriers.remove(tag)
  }

  private lazy val barrierQe: QueryExecution = spark.range(1).queryExecution

  // ── SparkListener ────────────────────────────────────────────────────

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId, e.time, prop(SpanKey).map(_.toLong).getOrElse(0L),
      prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val r = stage(i.stageId, i.attemptNumber())
    r.jobId = stageJob.getOrDefault(i.stageId, -1)
    r.name = i.name
    r.submitMs = i.submissionTime.getOrElse(0L)
    r.endMs = i.completionTime.getOrElse(r.submitMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stage(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    r.synchronized {
      r.tasks += 1
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.taskRunMs += m.executorRunTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execDesc.put(s.executionId, s.description)
    case s: SparkListenerSQLExecutionEnd =>
      Option(execDesc.remove(s.executionId)).flatMap(d => Option(barriers.get(d)))
        .foreach(_.countDown())
    case _ =>
  }

  // ── QueryExecutionListener ───────────────────────────────────────────

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (!funcName.startsWith("perfbench-barrier")) {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      executions.put(funcName, (planMs, durationNs / 1e6))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ── aggregation ──────────────────────────────────────────────────────

  private def stagesOfJobs(jobIds: Set[Int]): Seq[StageRec] =
    stages.values().asScala.filter(s => jobIds(s.jobId)).toSeq

  /** Trigger span of each recorded micro-batch, by (query id, batch id). */
  private def triggerSpans(): Map[(String, Long), Long] =
    spans.asScala.filter(_.kind == "trigger").flatMap { s =>
      for (q <- s.attrs.get("query_id"); b <- s.attrs.get("batch_id"))
        yield (q.toString, b.toString.toLong) -> s.id
    }.toMap

  /** Jobs started under one of the spans, or run by a micro-batch whose
    * trigger span is one of them.
    */
  private def jobsUnder(spanIds: Set[Long]): Seq[JobRec] = {
    val trig = triggerSpans()
    jobs.values().asScala.filter(j => spanIds(j.parentSpan) ||
      Option(j.streamQueryId).flatMap(q => trig.get((q, j.batchId))).exists(spanIds)).toSeq
  }

  /** Planning time (analysis, optimization, physical planning) the SQL
    * execution named `name` reported.
    */
  def planningMs(name: String): Double =
    Option(executions.get(name)).map(_._1)
      .getOrElse(sys.error(s"no query execution named $name was reported"))

  /** Exec-layer totals over the given spans. The scheduler gap is each
    * span's wall time minus the union of its stages' intervals (clipped
    * to the span), summed over spans.
    */
  def execOf(of: Seq[Span]): ExecAgg = {
    val js = jobsUnder(of.map(_.id).toSet)
    val st = stagesOfJobs(js.map(_.jobId).toSet)
    val union = of.map(s => unionMs(stagesOfJobs(jobsUnder(Set(s.id)).map(_.jobId).toSet)
      .map(r => (r.submitMs.toDouble, r.endMs.toDouble)), s.startMs, s.endMs)).sum
    // worst stage: the one whose slowest task is longest (it bounds the
    // wall time most); skew there = slowest / median task
    val skew = st.filter(_.taskRunMs.nonEmpty).maxByOption(_.taskRunMs.max).map { r =>
      val ms = r.taskRunMs.map(_.toDouble).toSeq
      ms.max / math.max(Stats.median(ms), 1.0)
    }.getOrElse(1.0)
    ExecAgg(js.size, st.size, st.map(_.tasks).sum, of.map(_.wallMs).sum, union,
      st.map(_.runMs).sum, st.map(_.cpuNs).sum, st.map(_.shuffleWriteBytes).sum,
      st.map(_.spillBytes).sum, skew, cores)
  }

  /** Reconciliation of one span with its stages: the clipped stage union
    * plus the scheduler gap equals the wall time by construction, so the
    * check is that no stage interval sticks out of the span by more than
    * [[ReconcileTolMs]] (which would mean a stage was attributed to the
    * wrong span or the clocks disagree). Returns the largest overhang.
    */
  def overhangMs(s: Span): Double = {
    val st = stagesOfJobs(jobsUnder(Set(s.id)).map(_.jobId).toSet)
    (0.0 +: st.flatMap(r => Seq(s.startMs - r.submitMs, r.endMs - s.endMs))).max
  }

  /** Every benchmark span plus one span per job and stage under them,
    * as a JSON-ready list. Jobs of a streaming query hang under the
    * trigger span of their micro-batch when one was recorded; a query span
    * carries the planning and execution time its SQL execution reported.
    */
  def spanJson(): Seq[ListMap[String, Any]] = {
    val bench = spans.asScala.toSeq.map { s =>
      Option(executions.get(s.name)).filter(_ => s.kind == "query").map { case (plan, exec) =>
        s.copy(attrs = s.attrs ++ ListMap("planning_ms" -> plan, "execution_ms" -> exec))
      }.getOrElse(s)
    }
    val triggerOf = triggerSpans()
    val jobSpans = jobs.values().asScala.toSeq.sortBy(_.jobId).map { j =>
      val parent = Option(j.streamQueryId).flatMap(q => triggerOf.get((q, j.batchId)))
        .getOrElse(j.parentSpan)
      Span(newId(), parent, "job", s"job ${j.jobId}", j.startMs.toDouble, j.endMs.toDouble,
        ListMap("job_id" -> j.jobId)) -> j.jobId
    }
    val jobSpanId = jobSpans.map { case (s, j) => j -> s.id }.toMap
    val stageSpans = stages.asScala.toSeq.sortBy(_._1).map { case ((sid, att), r) =>
      Span(newId(), jobSpanId.getOrElse(r.jobId, 0L), "stage", r.name,
        r.submitMs.toDouble, r.endMs.toDouble,
        ListMap("stage_id" -> sid, "attempt" -> att, "tasks" -> r.tasks,
          "executor_run_ms" -> r.runMs, "executor_cpu_ms" -> r.cpuNs / 1e6,
          "shuffle_write_bytes" -> r.shuffleWriteBytes, "spill_bytes" -> r.spillBytes))
    }
    (bench ++ jobSpans.map(_._1) ++ stageSpans).map { s =>
      ListMap("trace" -> traceId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Stage edges are millisecond timestamps taken on other threads; an
    * overhang up to this much is clock granularity, not misattribution.
    */
  val ReconcileTolMs = 50.0

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }
}
