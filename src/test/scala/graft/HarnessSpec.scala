package graft

/** What the mains share: the session factory's settings, and the
  * failure-isolation policy (VERDICT r15 #8): per-key isolation for
  * ordinary failures, but a fatal JVM error must propagate — after
  * being recorded — so a corrupted JVM cannot keep producing
  * plausible-looking artifacts. */
class HarnessSpec extends SparkSpec {

  test("the shared spark fixture is the factory's local[4] UTC session, UI off") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    // set by the factory, not defaulted from a host whose zone is UTC
    assert(spark.sparkContext.getConf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("guarded records and swallows a NonFatal failure") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val r = Harness.guarded("k1", errors) {
      throw new RuntimeException("boom\nsecond line")
    }
    assert(r === None)
    assert(errors("k1") === "boom") // first line only
  }

  test("guarded records a fatal error AND rethrows it") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val oom = intercept[OutOfMemoryError] {
      Harness.guarded("k2", errors) { throw new OutOfMemoryError("heap") }
    }
    assert(oom.getMessage === "heap")
    assert(errors("k2") === "heap",
      "the fatal failure must still be recorded before propagating")
  }

  test("guarded passes successful results through") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    assert(Harness.guarded("k3", errors)(42) === Some(42))
    assert(errors.isEmpty)
  }

  test("guarded records the cause chain, first line each") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    Harness.guarded("k4", errors) {
      throw new RuntimeException("analysis failed\ndetail",
        new java.io.IOException("disk full"))
    }
    assert(errors("k4") === "analysis failed <- disk full")
  }

  // ---- BenchPolicy: degraded-host self-diagnosis (VERDICT r16 #4) ----

  import BenchPolicy.Reading

  test("hostDegraded: healthy probe band stays unflagged, one 2x probe flags") {
    // the r12-measured healthy band (min 0.302 / max 0.664 vs 0.40)
    assert(!BenchPolicy.hostDegraded(Seq(0.302, 0.39, 0.664), 0.40))
    // BENCH_r16's actual band (max probe 1.756 = 4.4x healthy)
    assert(BenchPolicy.hostDegraded(Seq(0.269, 0.41, 1.756), 0.40))
    // exactly 2x is the boundary, inclusive
    assert(BenchPolicy.hostDegraded(Seq(0.80), 0.40))
  }

  test("forced-degraded run widens retry coverage over uniform small inflation") {
    // the r16 shape: keys uniformly inflated ~1.7x by the host, each
    // under the healthy 3 s floor and under the 2.0 ratio trigger
    val prior = Map("a" -> 0.6, "b" -> 0.9, "c" -> 1.2)
    val now = Seq(Reading("a", 1.05, 0.0, failed = false),
      Reading("b", 1.55, 0.0, failed = false),
      Reading("c", 2.05, 0.0, failed = false))
    val healthy = BenchPolicy.retryOrder(now, prior, Map.empty, degraded = false)
    val degraded = BenchPolicy.retryOrder(now, prior, Map.empty, degraded = true)
    assert(healthy.isEmpty, "healthy thresholds exempt ~1.7x inflation (the r16 gap)")
    assert(degraded.map(_.name).toSet === Set("a", "b", "c"),
      "the degraded thresholds (ratio 1.5, entry 0.4 s) must re-measure all of them")
  }

  test("retry ratio is GC-corrected on both sides (ADVICE r16)") {
    // prior reading 4.0 s of which 3.0 s was GC: the real prior is
    // 1.0 s, so a 2.2 s clean reading IS a >2x regression; numerator-
    // only correction read 2.2/4.0 = 0.55 and let it slip
    val r = Reading("k", 2.2, 0.0, failed = false)
    val ratio = BenchPolicy.ratioVsLast(r, Map("k" -> 4.0), Map("k" -> 3.0))
    assert(ratio.exists(_ >= 2.0))
    assert(BenchPolicy.wantRetry(r, ratio, degraded = false))
  }

  test("failed readings and sub-floor keys are never retried") {
    assert(!BenchPolicy.wantRetry(Reading("f", -1.0, 0.0, failed = true),
      Some(9.0), degraded = true))
    assert(!BenchPolicy.wantRetry(Reading("tiny", 0.3, 0.0, failed = false),
      Some(9.0), degraded = true), "0.4 s entry floor holds even degraded")
    // mostly-GC giant: raw 6 s but 5 s attributable GC -> explained
    assert(!BenchPolicy.wantRetry(Reading("gc", 6.0, 5.0, failed = false),
      None, degraded = false))
  }

  test("pre-flight gate and run-pick mirror the degraded threshold (VERDICT r18 #1)") {
    // the gate admits exactly what hostDegraded would not flag
    assert(BenchPolicy.gateHealthy(0.664, 0.40), "healthy-band max must pass")
    assert(!BenchPolicy.gateHealthy(0.80, 0.40), "2x is the shared boundary")
    assert(!BenchPolicy.gateHealthy(1.454, 0.40), "the r18 artifact's probe must gate")
    // run choice: healthy beats degraded in either order; two degraded
    // runs pick the least-polluted; two healthy runs keep the cold first
    assert(!BenchPolicy.pickFirst(firstDegraded = true, 1.5, secondDegraded = false, 0.5))
    assert(BenchPolicy.pickFirst(firstDegraded = false, 0.5, secondDegraded = true, 1.5))
    assert(BenchPolicy.pickFirst(firstDegraded = false, 0.5, secondDegraded = false, 0.4),
      "two healthy runs: the cold first run is the unbiased reading")
    assert(!BenchPolicy.pickFirst(firstDegraded = true, 3.0, secondDegraded = true, 1.0))
    assert(BenchPolicy.pickFirst(firstDegraded = true, 1.0, secondDegraded = true, 3.0))
  }

  test("parseMap reads both plain and tail-escaped artifact maps") {
    val txt = """{"tail":"{\"metric\":\"query_gc\",\"gc\":{\"k1\":0.25,\"k2\":1.5},\"sf\":\"x\"}",
      |"parsed":{"queries":{"k1":2.0,"k2":3.5},"sf":"y"}}""".stripMargin
    assert(BenchPolicy.parseMap(txt, "gc") === Map("k1" -> 0.25, "k2" -> 1.5))
    assert(BenchPolicy.parseMap(txt, "queries") === Map("k1" -> 2.0, "k2" -> 3.5))
    assert(BenchPolicy.parseMap(txt, "absent") === Map.empty)
  }
}
