package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run by `perfbench/run.py`, which builds the
  * classpath, isolates the run's directories and adds DuckDB parity).
  *
  * {{{
  * perfbench.Main --workload llm_corpus|snapshot_ingest --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--inputs-s T]
  * }}}
  *
  * `DIR/data` holds the inputs `perfbench/inputs.py` generated, in T
  * seconds. Set-up (input generation, JVM and session start, table
  * cache, one untimed warm pass) is reported as `setup_s`; then whole passes run back to back
  * until `--seconds` have elapsed. `--trace 1` first runs one untimed
  * reference pass without listeners, then registers the tracing
  * listeners for the timed passes and reports per-layer metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, out: File, inputsS: Double)

  def parse(argv: Seq[String]): Args = {
    val kv = mutable.HashMap.empty[String, String]
    val it = argv.iterator
    while (it.hasNext) it.next() match {
      case k if k.startsWith("--") && it.hasNext => kv(k.drop(2)) = it.next()
      case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      kv.getOrElse("inputs-s", "0").toDouble)
    require(Metrics.workloads.contains(a.workload),
      s"unknown workload '${a.workload}' (have ${Metrics.workloads.mkString(", ")})")
    a
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private val MB = 1024.0 * 1024.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val code = try { run(a); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    a.work.mkdirs()
    val spark = session(a.work)
    try {
      graft.functions.Graft.registerAll(spark)
      val runner = new Runner(spark)
      val wl: Workload = a.workload match {
        case "llm_corpus" => new LlmCorpus(spark, runner, a.seed, a.work)
        case "snapshot_ingest" => new SnapshotIngest(spark, runner, a.seed, a.work)
      }
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val prepareS = runner.seconds(wl.prepare())._2
      val warmS = runner.seconds(wl.warm())._2
      val setupS = a.inputsS + (System.currentTimeMillis() - jvmStartMs) / 1e3
      println(f"setup inputs_s=${a.inputsS}%.3f jvm_and_session_s=$sessionS%.3f " +
        f"table_cache_s=$prepareS%.3f warm_pass_s=$warmS%.3f")

      val refWall = if (a.trace) {
        runner.pass = -1
        Some(runner.seconds(wl.pass(-1))._2)
      } else None
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      tracer.foreach { t => t.register(); runner.tracer = Some(t) }

      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMillis
      val passWalls = mutable.ArrayBuffer.empty[Double]
      val w0 = System.nanoTime()
      do {
        runner.pass = passWalls.size + 1
        passWalls += runner.seconds(wl.pass(runner.pass))._2
      } while ((System.nanoTime() - w0) / 1e9 < a.seconds)
      val gcS = (gcMillis - gc0) / 1e3
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / MB
      runner.tracer = None
      tracer.foreach(_.unregister())

      val (checked, finishS) = runner.seconds(wl.finish(a.trace))
      val wallS = Stats.median(passWalls.toSeq)
      val report = if (wl.docsPerPass == 0) checked
        else checked.copy(readings = checked.readings + ("docs_per_s" -> wl.docsPerPass / wallS))
      println(f"finish checks_and_probes_s=$finishS%.3f")
      // driver heap still held once the run is over: cached tables,
      // registries, pinned plans. The pause lets Spark's ContextCleaner
      // drop the broadcasts and shuffles the first collection released.
      System.gc(); Thread.sleep(1000); System.gc()
      val heapRetainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB

      val timed = runner.timed
      val lat = timed.map(_.wallS)
      val failedOps = runner.results.count(_.error.nonEmpty)
      val failedChecks = report.checks.count(_._2.nonEmpty)
      val attempted = runner.results.size + report.checks.size
      val failed = failedOps + failedChecks

      val e2e = mutable.LinkedHashMap[String, Double](
        "setup_s" -> setupS,
        "wall_s" -> wallS,
        "op_p50_s" -> Stats.median(lat),
        "heap_retained_mb" -> heapRetainedMb)

      val out = new Report(a, spark, runner, report)
      out.printEndToEnd(e2e, passWalls.size, lat.size, failed, attempted)
      val layer =
        if (!a.trace) Map.empty[String, Double]
        else {
          val layerMetrics = new mutable.LinkedHashMap[String, Double]()
          Metrics.perLayer.foreach(m => layerMetrics(m.name) = 0.0)
          layerMetrics ++= report.readings
          layerMetrics ++= out.traceReadings(tracer.get, passWalls.toSeq)
          layerMetrics("tables.load_s") = wl.tablesLoadS
          layerMetrics("tables.cached_mb") =
            spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / MB
          layerMetrics("jvm.gc_s") = gcS
          layerMetrics("jvm.heap_peak_mb") = heapPeakMb
          layerMetrics("fail_ratio") = failed.toDouble / attempted
          layerMetrics("trace_overhead_s") = wallS - refWall.get
          out.printPerLayer(layerMetrics)
          out.writeTrace(tracer.get, layerMetrics)
          layerMetrics.toMap
        }

      val metrics =
        if (a.trace) Metrics.perLayer.map(m => (m.name, layer(m.name), m.unit))
        else Metrics.endToEnd.map(m => (m.name, e2e(m.name), m.unit))
      val mapper = new ObjectMapper()
      val doc = mapper.createObjectNode()
        .put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
      val values = doc.putObject("metrics")
      metrics.foreach { case (n, v, u) =>
        require(!v.isNaN && !v.isInfinite, s"metric $n must be finite, got $v")
        values.putObject(n).put("value", v).put("unit", u)
      }
      val jobs = doc.putArray("parity")
      report.parity.foreach { case (t, o) => jobs.addObject().put("tables", t).put("out", o) }
      mapper.writeValue(a.out, doc)
    } finally spark.stop()
  }
}
