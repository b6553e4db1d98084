package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Human-readable report lines (printed before the result line) and
  * the traced run's per-layer read-out and span file. */
final class Report(a: Main.Args, spark: SparkSession, runner: Runner, wl: WorkloadReport) {
  private val MB = 1024.0 * 1024.0

  private def fmt(v: Double): String = f"$v%.6g"

  /** `metric <name> <value> <unit> (n=<samples>)`, or the reason a
    * percentile was refused. */
  private def line(name: String, unit: String, xs: Seq[Double], q: Option[Double]): Unit = {
    val v = q match {
      case None => if (xs.isEmpty) None else Some(Stats.median(xs))
      case Some(p) => if (xs.size >= Stats.minSamples(p)) Some(Stats.percentile(xs, p)) else None
    }
    v match {
      case Some(x) => println(s"metric $name ${fmt(x)} $unit (n=${xs.size})")
      case None => println(s"metric $name refused: n=${xs.size} < ${q.map(Stats.minSamples).getOrElse(1)} samples")
    }
  }

  def printEndToEnd(e2e: collection.Map[String, Double], passes: Int, ops: Int,
      failed: Int, attempted: Int): Unit = {
    println(s"perfbench workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"passes=$passes ops=$ops attempted=$attempted failed=$failed")
    val lat = runner.timed.map(_.wallS)
    println(s"metric setup_s ${fmt(e2e("setup_s"))} s (n=1 set-up)")
    println(s"metric wall_s ${fmt(e2e("wall_s"))} s (n=$passes passes)")
    line("op_p50_s", "s", lat, None)
    line("op_p75_s", "s", lat, Some(0.75))
    line("op_p90_s", "s", lat, Some(0.90))
    println(s"metric heap_retained_mb ${fmt(e2e("heap_retained_mb"))} MB (n=1)")
    println(s"metric fail_ratio ${fmt(failed.toDouble / attempted)} ratio (n=$attempted)")
    a.workload match {
      case "llm_corpus" =>
        Seq("docs_per_s" -> "docs/s", "dedup_recall" -> "ratio").foreach { case (n, u) =>
          wl.readings.get(n).foreach(v => println(s"metric $n ${fmt(v)} $u (n=1)"))
        }
      case _ =>
        val commits = runner.timed.filter(_.kind == "commit").map(_.wallS)
        val reads = runner.timed.filter(_.kind == "read").map(_.wallS)
        line("commit_p50_s", "s", commits, None)
        line("commit_p90_s", "s", commits, Some(0.90))
        line("read_p50_s", "s", reads, None)
        line("read_p90_s", "s", reads, Some(0.90))
        wl.readings.get("write_amp").foreach(v => println(s"metric write_amp ${fmt(v)} ratio (n=1)"))
    }
    runner.timed.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      println(s"op $n n=${rs.size} p50_s=${fmt(Stats.median(rs.map(_.wallS)))} " +
        s"build_p50_s=${fmt(Stats.median(rs.map(_.buildS)))}")
    }
    wl.checks.foreach { case (n, err) =>
      println(s"check $n ${err.fold("ok")(e => s"FAIL $e")}")
    }
    runner.results.filter(_.error.nonEmpty).foreach { r =>
      println(s"check op:${r.name}#${r.idx} FAIL ${r.error.get}")
    }
  }

  /** Span parenting: a job or trigger belongs to the innermost span of
    * its operation that contains it, else to the operation's root. */
  private def reparent(child: Span, candidates: Seq[Span]): Span = {
    val inside = candidates.filter(c =>
      c.startMs <= child.startMs + 1 && child.endMs <= c.endMs + 1)
    val p = if (inside.isEmpty) candidates.find(_.parent == -1) else Some(inside.minBy(_.durMs))
    p.fold(child)(s => child.copy(parent = s.id))
  }

  private var spans: Seq[Span] = Nil

  /** Per-layer readings from the listener counters and spans, per timed
    * pass so that they do not jump with the number of passes. */
  def traceReadings(t: Tracer, passWalls: Seq[Double]): Map[String, Double] = {
    val r = mutable.LinkedHashMap.empty[String, Double]
    val timed = runner.timed
    val passes = math.max(1, passWalls.size).toDouble
    val ops = timed.map(_.idx).toSet
    val own = t.allSpans.filter(s => ops(s.op))
    val roots = own.filter(_.parent == -1).map(s => s.op -> s).toMap
    val byOp = own.groupBy(_.op)
    val triggers = t.triggerSpans(roots).map(s => reparent(s, byOp(s.op)))
    val jobs = t.jobSpans(roots).map(s => reparent(s, byOp(s.op) ++ triggers.filter(_.op == s.op)))
    var nextId = own.map(_.id).maxOption.getOrElse(0)
    spans = own ++ (triggers ++ jobs).map { s => nextId += 1; s.copy(id = nextId) }

    val wall = timed.map(_.wallS).sum
    r("operators.build_s") = timed.map(_.buildS).sum / passes
    r("operators.action_s") = timed.map(_.actionS).sum / passes
    val ph = timed.flatMap(o => t.phasesWithin(o.startMs, o.endMs)).distinct
    r("plan.analysis_s") = ph.map(_.analysisMs).sum / 1e3 / passes
    r("plan.optimization_s") = ph.map(_.optimizationMs).sum / 1e3 / passes
    r("plan.planning_s") = ph.map(_.planningMs).sum / 1e3 / passes
    r("plan.share") = ph.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum / 1e3 / wall

    val tk = t.tasksOf(ops)
    val cores = spark.sparkContext.defaultParallelism
    val opJobs = timed.map(o => o -> t.jobsOf(o.idx))
    val busyMs = opJobs.map { case (o, js) =>
      Stats.unionLength(js.map(j => (math.max(j.startMs, o.startMs.toLong),
        math.min(j.endMs, o.endMs.toLong))))
    }
    r("exec.jobs") = opJobs.map(_._2.size).sum / passes
    r("exec.stages") = tk.stages / passes
    r("exec.tasks") = tk.tasks / passes
    r("exec.task_run_s") = tk.runMs / 1e3 / passes
    r("exec.task_cpu_s") = tk.cpuNs / 1e9 / passes
    r("exec.task_gc_s") = tk.gcMs / 1e3 / passes
    r("exec.core_util") = tk.runMs / 1e3 / (wall * cores)
    r("exec.shuffle_write_mb") = tk.shufW / MB / passes
    r("exec.shuffle_read_mb") = tk.shufR / MB / passes
    r("exec.spill_mb") = tk.spill / MB / passes
    r("exec.input_mb") = tk.input / MB / passes
    r("exec.output_mb") = tk.output / MB / passes
    r("exec.job_busy_s") = busyMs.sum / 1e3 / passes
    r("exec.driver_gap_s") = (wall - busyMs.sum / 1e3) / passes
    r("exec.tasks_failed") = tk.failed.toDouble / passes

    val prog = t.progressOf(ops)
    if (prog.nonEmpty) {
      def dur(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / passes
      r("stream.triggers") = prog.size / passes
      r("stream.trigger_s") = dur("triggerExecution")
      r("stream.add_batch_s") = dur("addBatch")
      r("stream.query_planning_s") = dur("queryPlanning")
      r("stream.wal_commit_s") = dur("walCommit")
      r("stream.commit_offsets_s") = dur("commitOffsets")
      r("stream.latest_offset_s") = dur("latestOffset")
      val last = prog.groupBy(_.query).values.map(_.maxBy(_.timestampMs))
      r("stream.state_rows") = last.map(_.stateRows).sum / passes
      r("stream.state_mb") = last.map(_.stateBytes).sum / MB / passes
      val streamOps = prog.map(_.op).toSet
      r("stream.lifecycle_s") =
        timed.filter(o => streamOps(o.idx)).map(_.wallS).sum / passes - r("stream.trigger_s")
    }
    r.toMap
  }

  /** Self time per layer: each span's duration minus the part of it
    * its children cover. */
  private def selfByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c =>
        ((math.max(c.startMs, s.startMs) * 1e3).toLong, (math.min(c.endMs, s.endMs) * 1e3).toLong)))
      s.layer -> (s.durMs - covered / 1e3) / 1e3
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def printPerLayer(m: collection.Map[String, Double]): Unit = {
    println("per-layer metrics (traced run; sums are per timed pass):")
    Metrics.perLayer.foreach { l =>
      println(s"layer ${l.name} ${fmt(m(l.name))} ${l.unit} -> ${l.moves} on ${l.on}")
    }
    selfByLayer.toSeq.sortBy(-_._2).foreach { case (layer, s) =>
      println(s"self_s $layer ${fmt(s)} s")
    }
    println(s"trace_overhead_s ${fmt(m("trace_overhead_s"))} s (traced pass wall - untraced reference pass wall)")
  }

  /** Spans, per-operation results and per-layer metrics as one JSON
    * file next to the run's result. */
  def writeTrace(t: Tracer, m: collection.Map[String, Double]): Unit = {
    val mapper = new ObjectMapper()
    val doc = mapper.createObjectNode().put("workload", a.workload).put("seed", a.seed)
    val metrics = doc.putObject("metrics")
    Metrics.perLayer.foreach(l => metrics.putObject(l.name).put("value", m(l.name))
      .put("unit", l.unit).put("moves", l.moves).put("on", l.on))
    val self = doc.putObject("self_s")
    selfByLayer.foreach { case (k, v) => self.put(k, v) }
    val ops = doc.putArray("ops")
    runner.results.foreach(o => ops.addObject().put("idx", o.idx).put("name", o.name)
      .put("kind", o.kind).put("pass", o.pass).put("wall_s", o.wallS).put("build_s", o.buildS)
      .put("action_s", o.actionS).put("rows", o.rows).put("error", o.error.orNull))
    val arr = doc.putArray("spans")
    spans.foreach(s => arr.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op)
      .put("name", s.name).put("layer", s.layer).put("start_ms", s.startMs).put("end_ms", s.endMs))
    val f = new java.io.File(a.out.getParentFile, s"trace-${a.workload}-${a.seed}.json")
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, doc)
    println(s"trace written to ${f.getName} (${spans.size} spans)")
  }
}
