package graft

/** Profiling helper: time one declared query N times in one JVM.
  * Usage: runMain graft.BenchOne <key>[,key2,...] [sfDir] [repeats]
  * A comma-separated key list times the keys IN SEQUENCE within each
  * rep — the way to reproduce order-dependent effects from the full
  * bench (cache materialization charged to a neighbor, GC debt from
  * a previous key's pipeline) in isolation.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session(Harness.cpus)
    Harness.guarded("warmup", scala.collection.mutable.Map.empty)(Warmup.run(spark))
    // host-speed probe per rep (the same job as Bench's cal_start/end_sec)
    val calRows = 100000000L
    Harness.cal(spark, calRows) // compile/JIT the probe plan outside the readings
    (1 to reps).foreach { i =>
      keys.foreach { key =>
        val cal = Harness.cal(spark, calRows)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(key)(spark, sfDir).count()
        println(f"BENCHONE $key run$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n cal=$cal%.2f s")
      }
    }
    // closing bracket: a phase flip DURING the last rep shows up here,
    // not in any pre-rep cal (same lesson as Bench's per-query brackets)
    println(f"BENCHONE ${keys.mkString(",")} cal_final=${Harness.cal(spark, calRows)}%.2f s")
    spark.stop()
  }
}
