package graft

import scala.util.control.NonFatal

/** Optimization-round helper: write `.explain("formatted")` for declared
  * queries to files, so plan claims (Exchange counts, join strategies,
  * PushedFilters) are auditable offline.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <key1>[,key2,...]
  *   e.g. runMain graft.PlanDump plans/r21 before llm_pmi,join_skew_salted
  * Writes <outDir>/<key>_<suffix>.txt per key. Note that constructing a
  * declared DataFrame may itself run eager work (sink keys commit,
  * stream keys drain micro-batches) — the dump reflects the FINAL
  * returned query's plan, the same thing the bench counts.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Harness.session(Harness.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { key =>
      try {
        val df = SparkEntry.queries(key)(spark, sfDir)
        // cap pathological lines: a binary literal (e.g. a megabyte
        // bloom filter) renders as one multi-MB hex line, useless to a
        // reader and heavy in the repo — the plan SHAPE is what the
        // dump exists to witness
        val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          .linesIterator.map { l =>
            if (l.length > 2000) l.take(2000) + s"…[line truncated, ${l.length} chars]"
            else l
          }.mkString("\n")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${key}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"PLANDUMP $key ok (${txt.length} chars)")
      } catch { case NonFatal(e) =>
        println(s"PLANDUMP $key FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
