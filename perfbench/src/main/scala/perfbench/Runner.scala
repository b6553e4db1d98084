package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch milliseconds with sub-millisecond digits. */
  def nowMs: Double = (System.nanoTime() + epochNs0) / 1e6
}

/** One executed operation. `buildS` is the time inside the call before
  * it hands back its DataFrame (eager commits, checkpoints, collects);
  * `actionS` the `count()` that runs it. */
final case class OpResult(idx: Int, name: String, kind: String, pass: Int,
    startMs: Double, endMs: Double, buildS: Double, actionS: Double,
    rows: Long, error: Option[String]) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Closed-loop, single-client executor: runs one operation at a time,
  * times it, checks its answer, and (traced runs only) records spans
  * and tags its Spark jobs with the operation index. */
final class Runner(val spark: SparkSession) {
  val results = mutable.ArrayBuffer.empty[OpResult]
  var tracer: Option[Tracer] = None
  /** 0 = warm pass; timed passes count from 1. */
  var pass = 0

  /** Run one operation. `build` does the call into the layer and may
    * return null when there is nothing left to execute (a commit);
    * otherwise the frame is counted. `check` turns the row count into
    * an error message when the answer is wrong. Returns the row count,
    * or -1 when the operation failed. */
  def op(name: String, kind: String, layer: String)(build: => DataFrame)(
      check: Long => Option[String]): Long = {
    val idx = results.size
    var rows = -1L
    var buildS, actionS = 0.0
    var error: Option[String] = None
    val t0 = Clock.nowMs
    var t1 = t0
    def body(root: Int): Unit = {
      val df = tracer.fold(build)(_.span(idx, root, "build", layer)(_ => build))
      val b1 = Clock.nowMs
      buildS = (b1 - t0) / 1e3
      rows =
        if (df == null) 0L
        else tracer.fold(df.count())(_.span(idx, root, "action", "operators")(_ => df.count()))
      t1 = Clock.nowMs
      actionS = (t1 - b1) / 1e3
    }
    try {
      tracer match {
        case Some(t) =>
          t.enterOp(idx)
          try t.span(idx, -1, name, kind)(body) finally t.exitOp()
        case None => body(-1)
      }
      // checked outside the timed interval
      error = check(rows)
    } catch {
      case e: Throwable =>
        if (!NonFatal(e)) throw e
        rows = -1L
        t1 = Clock.nowMs
        error = Some(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .take(3).map(x => Option(x.getMessage).getOrElse(x.getClass.getName)
            .linesIterator.take(1).mkString).mkString(" <- "))
    }
    val r = OpResult(idx, name, kind, pass, t0, t1, buildS, actionS, rows, error)
    results += r
    error.foreach(m => System.err.println(s"[perfbench] $name failed: $m"))
    rows
  }

  def timed: Seq[OpResult] = results.filter(_.pass > 0).toSeq

  /** Time `body` in seconds. */
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** What a workload hands back after its timed passes: its checks
  * (name -> error, if wrong), its per-layer readings and the parity
  * jobs for `tools/parity.py` (table dir -> output dir). */
final case class WorkloadReport(
    checks: Seq[(String, Option[String])],
    readings: Map[String, Double],
    parity: Seq[(String, String)])

trait Workload {
  def name: String
  /** Generate inputs and materialize the table cache. */
  def prepare(): Unit
  /** One untimed pass over the same operations, at the same sizes. */
  def warm(): Unit
  /** One timed pass. */
  def pass(n: Int): Unit
  /** Correctness checks and readings, after the timed passes.
    * `traced` adds the layer probes. */
  def finish(traced: Boolean): WorkloadReport
  /** Whole-corpus units processed by one pass (documents), if any. */
  def docsPerPass: Long = 0L
  /** Seconds spent materializing the table cache during [[prepare]]. */
  def tablesLoadS: Double
}
