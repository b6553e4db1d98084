package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Round-14 regression guards for the adaptive events read path.
  *
  * Round 13's failure mode was SILENT: the driver regenerated
  * events.parquet from TIMESTAMP(NANOS) to TIMESTAMP(MICROS), the
  * stream's hardcoded nanos-as-long schema happily projected the µs
  * int64, and a later ÷1000 compressed a year-long timeline into ~9
  * hours — plausible row counts, wrong content. These tests make any
  * recurrence (either encoding direction, in the batch read or in the
  * stream, which reads the table file in place through the same
  * normalization) a loud unit-test failure instead.
  */
class AdaptiveReadSpec extends SparkSpec {

  test("stream ts timeline equals the batch events table's (min/max/count)") {
    // stream_dedup_watermark is the ts-exposing stream with 1:1 rows
    // against the batch table (dedup of a self-unioned stream)
    val streamed = graft.streaming.Streams.queries("stream_dedup_watermark")(spark, sf)
      .agg(min("ts").as("lo"), max("ts").as("hi"), count(lit(1)).as("n"))
      .head()
    val batch = Tables.t(spark, sf, "events")
      .agg(min("ts").as("lo"), max("ts").as("hi"), count(lit(1)).as("n"))
      .head()
    assert(streamed == batch,
      s"stream timeline $streamed != batch timeline $batch — events read path diverged")
  }

  test("batch events ts is µs-precision TimestampNTZ spanning weeks, not hours") {
    val ev = Tables.t(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampNTZType)
    val span = ev.agg(
      (unix_micros(max(col("ts")).cast("timestamp")) -
        unix_micros(min(col("ts")).cast("timestamp"))).as("span_us"))
      .head().getLong(0)
    // FIXTURES.md: ts spans 2024-01-01 … 2024-01-30; a 1000× unit slip
    // in either direction lands far outside [1 day, 10 years]
    assert(span > 86400L * 1000000L && span < 3650L * 86400L * 1000000L,
      s"events ts span $span µs suggests a unit conversion slip")
  }

  test("events ts predicates push to the parquet scan on µs footers") {
    // the adaptive read wraps ts in cast(ts as timestamp_ntz); on a µs
    // footer that cast is identity and SimplifyCasts elides it, so a
    // ts filter must still reach the scan as a pushed filter — the
    // property that keeps a 100 TB events scan partition-prunable.
    // (On a legacy ns footer the ns→µs arithmetic is genuinely
    // unpushable; that branch trades pushdown for readability of a
    // format Spark otherwise rejects outright.)
    // probe via a COPIED path: Tables.t elsewhere in the suite caches
    // the canonical events plan, and the CacheManager substitutes the
    // InMemoryRelation into any matching fragment — which would hide
    // the scan this test is about
    val tmp = java.nio.file.Files.createTempDirectory("graft_push_sf").toFile
    val pushed = try {
      java.nio.file.Files.copy(
        new java.io.File(s"$sf/events.parquet").toPath,
        new java.io.File(tmp, "events.parquet").toPath)
      // read the scan node's own metadata — the rendered plan string
      // truncates PushedFilters after ~100 chars and depends on filter
      // ordering, so a prefix assertion would break on a Spark upgrade
      // with no real pushdown regression (ADVICE r14)
      Tables.raw(spark, tmp.getAbsolutePath, "events")
        .filter(col("ts") >= lit("2024-01-15 00:00:00").cast(TimestampNTZType) &&
          col("event_type") === "click")
        .queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metadata.getOrElse("PushedFilters", "")
        }.mkString(";")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    assert(pushed.contains("GreaterThanOrEqual(ts,"),
      s"ts predicate did not reach the scan: $pushed")
    assert(pushed.contains("IsNotNull(ts)"), pushed)
    assert(pushed.contains("EqualTo(event_type,click)"),
      s"event_type predicate did not reach the scan: $pushed")
  }

  test("views is fault-isolated: sub_in survives an unreadable events table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_broken_sf").toFile
    try {
      Tables.names.foreach { n =>
        val target = new java.io.File(tmp, s"$n.parquet")
        if (n == "events") // garbage bytes: footer read must throw
          java.nio.file.Files.write(target.toPath, "not a parquet file".getBytes)
        else
          java.nio.file.Files.createSymbolicLink(
            target.toPath, new java.io.File(s"$sf/$n.parquet").toPath)
      }
      val rows = SparkEntry.queries("sub_in")(spark, tmp.getAbsolutePath).count()
      assert(rows > 0, "sub_in should run against the nine healthy tables")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("transformWithState stateful count ≡ legacy flatMapGroupsWithState form") {
    // the registered key runs on Spark 4's current arbitrary-state
    // API (StatefulProcessor over RocksDB); the retired legacy form
    // stays as its oracle — identical per-user (n, sum) rows
    val modern = graft.streaming.Streams.queries("stream_stateful_count")(spark, sf)
      .collect().toSeq
    val legacy = graft.streaming.Streams.statefulCountLegacy(spark, sf)
      .collect().toSeq
    assert(modern.nonEmpty && modern == legacy,
      s"state API migration drifted: modern=${modern.take(3)} legacy=${legacy.take(3)}")
  }

  test("legacy nanos-as-long events files still read (encoding branch, not swap)") {
    // synthesize a TIMESTAMP(NANOS)-shaped events file the way the
    // pre-r13 generator did: the legacy flag surfaces it as LongType,
    // and the reader must truncate ns→µs
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ns_sf").toFile
    try {
      val baseUs = 1704103200000000L // 2024-01-01 10:00:00 UTC in µs
      Seq((1L, (baseUs + 1500000L) * 1000L + 123L, 7L, "click", 1.0, "{}"),
          (2L, (baseUs + 3600000000L) * 1000L + 999L, 8L, "view", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite")
        .parquet(new java.io.File(tmp, "ns_stage").getAbsolutePath)
      // the generator wrote a single-FILE events.parquet; mimic that
      val part = new java.io.File(tmp, "ns_stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      // a long column is not a ns timestamp footer — but the reader's
      // branch keys on the SURFACED LongType either way, so this
      // exercises the exact legacy code path (flag → long → div 1000)
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(tmp, "events.parquet").toPath)
      val df = Tables.raw(spark, tmp.getAbsolutePath, "events")
      assert(df.schema("ts").dataType == TimestampNTZType)
      val got = df.orderBy("event_id")
        .select(unix_micros(col("ts").cast("timestamp"))).as[Long].collect()
      assert(got.sameElements(Array(baseUs + 1500000L, baseUs + 3600000000L)),
        s"ns→µs truncation drifted: ${got.mkString(",")}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("a nanos-as-long events file streams to the batch read's µs timeline") {
    // the same synthetic legacy file as above, drained through the
    // stream: its LongType ts takes Tables' one ns→µs truncation
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ns_stream_sf").toFile
    try {
      val baseUs = 1704103200000000L // 2024-01-01 10:00:00 UTC in µs
      writeSingleFile(
        Seq((1L, (baseUs + 1500000L) * 1000L + 123L, 7L, "click", 1.0, "{}"),
            (2L, (baseUs + 3600000000L) * 1000L + 999L, 8L, "view", 2.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        new java.io.File(tmp, "events.parquet"))
      val dir = tmp.getAbsolutePath
      val streamed = graft.streaming.Streams.drain(
        graft.streaming.Streams.eventsStream(spark, dir), "append", "ns_events")
        .orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect()
      val batch = Tables.raw(spark, dir, "events")
        .orderBy("event_id").select(unix_micros(col("ts").cast("timestamp"))).as[Long].collect()
      assert(batch.sameElements(Array(baseUs + 1500000L, baseUs + 3600000000L)))
      assert(streamed.sameElements(batch),
        s"stream timeline ${streamed.mkString(",")} != batch ${batch.mkString(",")}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("a base table's batch and stream reads plan from the footer probe alone") {
    // a fresh file version: the probe misses its cache and reads the
    // footer on the driver; neither read then runs a schema-inference job
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe_sf").toFile
    try {
      java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
        new java.io.File(tmp, "events.parquet").toPath)
      val dir = tmp.getAbsolutePath
      val (schemas, jobs) = org.apache.spark.SparkJobs.count(spark.sparkContext)(
        (Tables.raw(spark, dir, "events").schema,
          graft.streaming.Streams.eventsStream(spark, dir).schema))
      assert(jobs == 0, s"planning the reads started $jobs job(s)")
      assert(schemas._1("value").dataType == org.apache.spark.sql.types.DoubleType)
      assert(schemas._2("ts").dataType == org.apache.spark.sql.types.TimestampType)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}
