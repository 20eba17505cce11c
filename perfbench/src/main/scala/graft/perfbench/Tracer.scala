package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `op` is the closed-loop operation it belongs
  * to, `parent` the enclosing span (-1 for an operation's root span).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Long, var endMs: Long = -1L,
                      gcStartMs: Long = 0L, var gcMs: Long = 0L)

final case class JobRec(jobId: Int, startMs: Long, desc: String, stages: Seq[Int])
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, inRecords: Long, inBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long)
final case class QueryRec(startMs: Long, planMs: Long, scanRows: Long,
                          scanFiles: Long)

/** In-memory span recorder plus the Spark listeners that feed it. Nothing
  * is written until `dump`; spans nest by the single client thread's call
  * stack, and Spark events (delivered asynchronously) are attributed to
  * spans afterwards by their timestamps.
  */
final class Tracer {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var currentOp = -1

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()

  private def gcMsNow(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Wall time per span name within the current operation, kept in
    * untraced runs too (two clock reads per call).
    */
  val parts = mutable.Map.empty[String, Double]

  def beginOp(op: Int): Unit = { currentOp = op; parts.clear() }

  def span[A](name: String)(f: => A): A = {
    val t = System.nanoTime()
    try spanned(name)(f)
    finally parts(name) = parts.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e6
  }

  private def spanned[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), currentOp,
        name, System.currentTimeMillis(), gcStartMs = gcMsNow())
      spans += s
      stack = s :: stack
      try f
      finally {
        s.endMs = System.currentTimeMillis()
        s.gcMs = gcMsNow() - s.gcStartMs
        stack = stack.tail
      }
    }

  private object SparkEvents extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.add(JobRec(e.jobId, e.time, desc, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled))
    }
  }

  private object QueryEvents extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = phases.values.map(_.durationMs).sum
      val start = if (phases.isEmpty) System.currentTimeMillis()
                  else phases.values.map(_.startTimeMs).min
      val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      def metric(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
      queries.add(QueryRec(start, planMs, metric("numOutputRows"), metric("numFiles")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(SparkEvents)
    spark.listenerManager.register(QueryEvents)
    enabled = true
  }

  /** Root spans of the operations, in order. */
  def opSpans: Seq[Span] = spans.filter(_.parent == -1).toSeq

  /** Innermost span of `op` whose interval holds time `t` (ms). */
  private def spanAt(byOp: Map[Int, Seq[Span]], op: Span, t: Long): Span =
    byOp.getOrElse(op.op, Nil)
      .filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.getOrElse(op)

  /** Per-operation Spark counters, keyed by root span id. */
  def perOp(): Map[Int, Map[String, Double]] = {
    val byOp = spans.toSeq.groupBy(_.op)
    val jobList = jobs.asScala.toSeq
    val stageJob = jobList.flatMap(j => j.stages.map(_ -> j.jobId)).toMap
    val taskList = tasks.asScala.toSeq
    val qList = queries.asScala.toSeq
    opSpans.map { op =>
      val inOp = (t: Long) => op.startMs <= t && t <= op.endMs
      val opJobs = jobList.filter(j => inOp(j.startMs))
      val ids = opJobs.map(_.jobId).toSet
      val opTasks = taskList.filter(t => stageJob.get(t.stageId).exists(ids))
      val opQueries = qList.filter(q => inOp(q.startMs))
      // wall time in the span with no task running
      val busy = opTasks.map(t => (math.max(t.launchMs, op.startMs), math.min(t.finishMs, op.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var until = op.startMs
      busy.foreach { case (a, b) =>
        if (b > until) { covered += b - math.max(a, until); until = b }
      }
      val barriers = opJobs.filter(_.desc.startsWith("cp@"))
      def jobMs(j: JobRec) = Option(jobEnds.get(j.jobId)).map(_ - j.startMs).getOrElse(0L)
      val perModule = barriers.groupBy(j =>
        j.desc.stripPrefix("cp@").takeWhile(_ != '.')).map { case (m, js) =>
          s"checkpoints.barrier_ms.$m" -> js.map(jobMs).sum.toDouble }
      val mb = 1024.0 * 1024.0
      val spanMs = byOp.getOrElse(op.op, Nil).filter(_.id != op.id)
        .groupBy(_.name).map { case (n, ss) => s"span_ms.$n" -> ss.map(s => (s.endMs - s.startMs).toDouble).sum }
      // scan counters attributed to the innermost span holding the query
      val scanBySpan = opQueries.groupBy(q => spanAt(byOp, op, q.startMs).name)
        .flatMap { case (n, qs) => Seq(
          s"scan_rows.$n" -> qs.map(_.scanRows).sum.toDouble,
          s"scan_files.$n" -> qs.map(_.scanFiles).sum.toDouble) }
      op.id -> (Map(
        "ms" -> (op.endMs - op.startMs).toDouble,
        "spark.plan_ms" -> opQueries.map(_.planMs).sum.toDouble,
        "spark.jobs" -> opJobs.size.toDouble,
        "spark.tasks" -> opTasks.size.toDouble,
        "spark.idle_ms" -> (op.endMs - op.startMs - covered).toDouble,
        "spark.busy_core_s" -> opTasks.map(_.runMs).sum / 1000.0,
        "spark.shuffle_write_mb" -> opTasks.map(_.shuffleWriteBytes).sum / mb,
        "spark.spill_mb" -> opTasks.map(_.spillBytes).sum / mb,
        "spark.gc_ms" -> op.gcMs.toDouble,
        "tables.scan_rows" -> opTasks.map(_.inRecords).sum.toDouble,
        "tables.scan_mb" -> opTasks.map(_.inBytes).sum / mb,
        "checkpoints.barrier_jobs" -> barriers.size.toDouble,
        "checkpoints.barrier_ms" -> barriers.map(jobMs).sum.toDouble,
      ) ++ perModule ++ spanMs ++ scanBySpan)
    }.toMap
  }

  /** Spans and Spark events as JSON lines (one object per line). */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach(s => w.println(Json.obj(
        "type" -> "span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "gc_ms" -> s.gcMs)))
      jobs.asScala.foreach(j => w.println(Json.obj(
        "type" -> "job", "job" -> j.jobId, "start_ms" -> j.startMs,
        "end_ms" -> Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(-1L),
        "desc" -> j.desc, "stages" -> j.stages)))
      queries.asScala.foreach(q => w.println(Json.obj(
        "type" -> "query", "start_ms" -> q.startMs, "plan_ms" -> q.planMs,
        "scan_rows" -> q.scanRows, "scan_files" -> q.scanFiles)))
    } finally w.close()
  }
}
