package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `op`; `parent` is
  * the id of the span that caused it (-1 for an operation's root). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Tracer {
  final case class Job(id: Int, op: Int, startMs: Long, var endMs: Long)
  final class TaskAgg {
    var tasks, failed, stages = 0L
    var runMs, cpuNs, gcMs, shufW, shufR, spill, input, output = 0L
  }
  final case class Phases(startMs: Long, endMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)
  final case class Progress(op: Int, query: String, timestampMs: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long)
}

/** In-memory spans plus the listener counters of the traced run.
  *
  * Untraced runs never construct one (see [[Runner]]): no listener is
  * registered and no local property is set. Everything here is written
  * out once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  val OpProperty = "perfbench.op"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile private var currentOp = -1

  def span[T](op: Int, parent: Int, name: String, layer: String)(body: Int => T): T = {
    val id = { nextId += 1; nextId }
    val t0 = Clock.nowMs
    try body(id)
    finally spans += Span(id, parent, op, name, layer, t0, Clock.nowMs)
  }

  def enterOp(op: Int): Unit = { currentOp = op; sc.setLocalProperty(OpProperty, op.toString) }
  def exitOp(): Unit = { currentOp = -1; sc.setLocalProperty(OpProperty, null) }

  // ---- listener state ----
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val taskAggs = mutable.HashMap.empty[Int, TaskAgg]
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val queryOp = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private def agg(op: Int) = taskAggs.getOrElseUpdate(op, new TaskAgg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(e.jobId, op, e.time, e.time)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      agg(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = agg(stageOp.getOrElse(e.stageId, -1))
      a.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      if (ph.nonEmpty)
        phases.add(Phases(ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max,
          d("analysis"), d("optimization"), d("planning")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    // delivered synchronously inside start(), so the current op is
    // the one that started the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryOp.put(e.id.toString, currentOp)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = Option(queryOp.get(p.id.toString)).map(_.intValue).getOrElse(-1)
      progress.add(Progress(op, p.id.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  // ---- read-out (after unregister) ----
  def allSpans: Seq[Span] = spans.toSeq
  def jobsOf(op: Int): Seq[Job] = synchronized(jobs.values.filter(_.op == op).toSeq)
  def tasksOf(ops: Set[Int]): TaskAgg = synchronized {
    val t = new TaskAgg
    taskAggs.collect { case (op, a) if ops(op) => a }.foreach { a =>
      t.tasks += a.tasks; t.failed += a.failed; t.stages += a.stages
      t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shufW += a.shufW; t.shufR += a.shufR; t.spill += a.spill
      t.input += a.input; t.output += a.output
    }
    t
  }
  /** Planning phases of the queries executed inside [startMs, endMs]. */
  def phasesWithin(startMs: Double, endMs: Double): Seq[Phases] =
    phases.asScala.filter(p => p.startMs >= startMs - 1 && p.endMs <= endMs + 1).toSeq
  def progressOf(ops: Set[Int]): Seq[Progress] = progress.asScala.filter(p => ops(p.op)).toSeq

  /** Trigger spans, rebuilt from progress events (end = timestamp +
    * triggerExecution) and parented to their operation's root. */
  def triggerSpans(roots: Map[Int, Span]): Seq[Span] =
    progress.asScala.toSeq.flatMap { p =>
      roots.get(p.op).map { r =>
        val dur = p.durations.getOrElse("triggerExecution", 0L).toDouble
        Span(-1, r.id, p.op, "stream.trigger", "streaming.Streams",
          p.timestampMs.toDouble, p.timestampMs + dur)
      }
    }

  def jobSpans(roots: Map[Int, Span]): Seq[Span] = synchronized {
    jobs.values.toSeq.flatMap { j =>
      roots.get(j.op).map(r => Span(-1, r.id, j.op, s"job.${j.id}", "exec",
        j.startMs.toDouble, j.endMs.toDouble))
    }
  }
}
