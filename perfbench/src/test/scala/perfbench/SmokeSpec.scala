package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.chaining._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One smoke pass of each workload in each mode at sf0.001 sizes
  * (`inputs.py --tiny`), so the benchmark cannot rot: the run must
  * finish, answer correctly and report every declared metric. Traced
  * runs must also record something in every layer the workload uses,
  * so a listener or probe that stops recording fails here. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val scratch = Files.createTempDirectory(
    new File("target").getAbsoluteFile.toPath.tap(Files.createDirectories(_)), "smoke").toFile
  System.setProperty("java.io.tmpdir", new File(scratch, "tmp").tap(_.mkdirs()).getPath)

  override def afterAll(): Unit = Io.deleteTree(scratch)

  /** Per-layer metrics that must be above zero on any traced pass of the workload. */
  private val common = Seq("tables.load_s", "operators.build_s", "operators.action_s",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "plan.share",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.core_util", "exec.job_busy_s", "exec.driver_gap_s", "jvm.heap_peak_mb")
  private val positive = Map(
    "llm_corpus" -> (common ++ Seq("exec.shuffle_write_mb", "exec.shuffle_read_mb",
      "textops.exact_groups_s", "textops.minhash_pairs_cold_s", "textops.minhash_pairs_warm_s",
      "textops.simhash_pairs_s", "textops.clusters_s", "textops.contamination_s",
      "textops.repetition_s", "textops.pairs_out", "textops.warm_over_cold",
      "kernels.ngram_set_rows_per_s", "kernels.minhash_sig_rows_per_s",
      "kernels.simhash_sig_rows_per_s", "kernels.vec_dot_rows_per_s",
      "vectorops.ivf_build_s", "vectorops.ivf_save_s", "vectorops.ivf_load_s",
      "vectorops.ivf_probe_s", "vectorops.brute_topk_s", "vectorops.ivf_recall",
      "docs_per_s", "dedup_recall")),
    "snapshot_ingest" -> (common ++ Seq("exec.output_mb",
      "snap.append_s", "snap.merge_s", "snap.delete_s", "snap.compact_s",
      "snap.read_latest_s", "snap.read_range_s", "snap.read_asof_s", "snap.versions",
      "snap.files_live", "snap.range_files_scanned", "snap.range_prune_ratio",
      "snap.month_files_scanned", "snap.bytes_written_mb", "snap.bytes_live_mb",
      "stream.triggers", "stream.trigger_s", "stream.add_batch_s", "stream.state_rows",
      "stream.lifecycle_s", "commit_p50_s", "read_p50_s", "write_amp")))

  private def smoke(workload: String, traced: Boolean): Unit = {
    val work = new File(scratch, s"$workload-$traced")
    val gen = Seq("python3", "inputs.py", "--workload", workload, "--seed", "7",
      "--out", new File(work, "data").getPath, "--tiny")
    assert(gen.! == 0, s"input generation failed: ${gen.mkString(" ")}")
    val out = new File(work, "result.json")
    Main.run(Main.Args(workload, seed = 7L, seconds = 0.0, trace = traced, work = work,
      out = out, inputsS = 0.0))
    val r = new ObjectMapper().readTree(out)
    assert(r.get("correct").asBoolean, r.toString)
    assert(r.get("failed").asInt == 0)
    assert(r.get("attempted").asInt >= 1)
    val want = if (traced) Metrics.perLayer.map(m => (m.name, m.unit))
      else Metrics.endToEnd.map(m => (m.name, m.unit))
    val metrics = r.get("metrics")
    val got = metrics.properties().asScala.toSeq.map(e => (e.getKey, e.getValue.get("unit").asText))
    assert(got == want)
    metrics.properties().asScala.foreach(e => assert(e.getValue.get("value").isNumber, e.getKey))
    val mustBePositive = if (traced) positive(workload) else Metrics.endToEnd.map(_.name)
    mustBePositive.foreach(n => assert(metrics.get(n).get("value").asDouble > 0, n))
  }

  for (workload <- Metrics.workloads; traced <- Seq(false, true)) {
    val mode = if (traced) "traced pass reports every per-layer metric"
      else "pass reports every end-to-end metric"
    test(s"$workload $mode") { smoke(workload, traced) }
  }
}
