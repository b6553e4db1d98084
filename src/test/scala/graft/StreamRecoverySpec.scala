package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Checkpoint/restart recovery for the transformWithState timer
  * surface (VERDICT r15 #2): a 100 TB streaming deployment relies on
  * a stateful query killed mid-state resuming from its checkpoint
  * with NO lost or duplicated sessions — the property every
  * AvailableNow-drained key exercises only implicitly (single
  * process lifetime). This spec stops a SessionTimers query between
  * micro-batches, restarts a new query instance from the same
  * checkpoint + source, and asserts the union of outputs equals an
  * uninterrupted run over the identical batch script. The restart
  * must recover (a) the open-session ValueState rows, (b) the
  * registered event-time timers, and (c) the watermark — a bug in
  * any of the three changes the emitted session set.
  */
class StreamRecoverySpec extends SparkSpec {

  private val gapUs = 30L * 60 * 1000000L

  /** (user, second) rows → appended (user_id, sstart, send, n) into a
    * parquet FILE sink — the memory sink refuses checkpoint recovery,
    * and the file sink's _spark_metadata commit log is exactly the
    * exactly-once machinery a restarted production query relies on. */
  private def startQuery(mem: MemoryStream[(Long, Long)], out: String,
      ckpt: String) = {
    val s = spark
    import s.implicits._
    val sessions = mem.toDF().toDF("user_id", "secs")
      .select(col("user_id"), timestamp_seconds(col("secs")).as("ts"))
      .withWatermark("ts", "10 minutes")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.Streams.SessionTimers(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
    sessions.toDF("user_id", "sstart", "send", "n")
      .writeStream.format("parquet").option("path", out).outputMode("append")
      .option("checkpointLocation", ckpt).start()
  }

  private def collected(out: String): Set[(Long, Long, Long, Long)] =
    spark.read.parquet(out).collect().map(r => (r.getLong(0),
      r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3))).toSet

  // batch script: A data-closes u1's first session (so the sink has
  // rows before the kill) and leaves u1's second + u2's first OPEN
  // with registered timers; B (after the restart in the interrupted
  // run) data-closes u2's first; C advances the watermark so the
  // timers recovered from the checkpoint fire in the resumed query;
  // u3's session stays open past end-of-input and must NOT be emitted.
  // Times sit on a 2024 base: an epoch-0 event ties the INITIAL
  // watermark (0) and is dropped as late before any state is built.
  private val base = 1704103200L // 2024-01-01 10:00:00 UTC
  // u2 sits at base+2000 so its timer expiry (base+3800) is past
  // batch A's closing watermark (base+3400) — it must still be OPEN
  // at the kill point for the restart to have state to recover
  private val batchA = Seq((1L, base), (1L, base + 60), (1L, base + 4000), (2L, base + 2000))
  private val batchB = Seq((2L, base + 5000))
  private val batchC = Seq((3L, base + 20000))

  test("session timers resume from checkpoint: stop/restart output equals the uninterrupted run") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // interrupted run: kill after batch A, resume from the checkpoint
      val ckpt1 = java.nio.file.Files.createTempDirectory("graft_ckpt1").toString
      val out1 = java.nio.file.Files.createTempDirectory("graft_rec_out1").toString
      val mem1 = MemoryStream[(Long, Long)]
      val q1 = startQuery(mem1, out1, ckpt1)
      mem1.addData(batchA); q1.processAllAvailable()
      q1.stop() // mid-state: open sessions + registered timers on disk
      val preKill = collected(out1)
      val q2 = startQuery(mem1, out1, ckpt1)
      mem1.addData(batchB); q2.processAllAvailable()
      mem1.addData(batchC); q2.processAllAvailable()
      q2.stop()

      // uninterrupted run: same batch script, one query lifetime
      val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
      val out2 = java.nio.file.Files.createTempDirectory("graft_rec_out2").toString
      val mem2 = MemoryStream[(Long, Long)]
      val q = startQuery(mem2, out2, ckpt2)
      mem2.addData(batchA); q.processAllAvailable()
      mem2.addData(batchB); q.processAllAvailable()
      mem2.addData(batchC); q.processAllAvailable()
      q.stop()

      val resumed = collected(out1)
      val full = collected(out2)
      assert(resumed === full,
        s"recovery diverged: onlyResumed=${resumed -- full} onlyFull=${full -- resumed}")
      // the content itself: two sessions each for u1/u2; u3 withheld
      // (its end+gap is past the final watermark)
      assert(full.map(_._1) === Set(1L, 2L))
      assert(full.size === 4, s"expected 4 closed sessions, got $full")
      // only u1's data-closed first session was out before the kill;
      // everything opened (and timer-registered) pre-kill emitted in
      // the RESUMED query's lifetime
      assert(preKill.map(_._1) === Set(1L) && preKill.size === 1,
        s"unexpected pre-kill output: $preKill")
      assert((resumed -- preKill).exists(_._1 == 2L),
        "u2's sessions (state recovered from the checkpoint) must emit post-restart")
    } finally prev match {
      case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch redelivery: the batchId-keyed overwrite sink absorbs replays (VERDICT r16 #7)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val out = s"${sys.props("java.io.tmpdir")}/graft_fb_idem"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val writer = graft.streaming.Streams.idempotentBatchWriter(out)
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("v").writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        writer(b, id)
        // in-flight redelivery: foreachBatch is at-least-once, so the
        // body may run twice for one batchId — same data, same id
        writer(b, id)
      }.start()
    mem.addData(1L, 2L, 3L); q.processAllAvailable()
    mem.addData(4L, 5L); q.processAllAvailable()
    q.stop()
    // post-restart replay: a crash BETWEEN the sink write and the
    // checkpoint commit re-runs the last batch with its original id
    writer(Seq(4L, 5L).toDF("v"), 1L)
    val got = spark.read.parquet(out).select(col("v")).as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 2L, 3L, 4L, 5L),
      "replayed batches must overwrite their own partition, never duplicate")
  }

  test("streaming MV maintenance: batch partitions are absorbed incrementally and served by the rewrite") {
    // The operational synthesis of the r17 pieces: a stream lands
    // each micro-batch as its own batchId-keyed fact partition
    // (dynamic overwrite → replay-idempotent, and insert-only at
    // partition granularity — exactly rebuildIncremental's
    // precondition), then refreshes the materialized view
    // incrementally inside foreachBatch. The MV stays O(new batch)
    // per refresh instead of O(fact), and the rewrite keeps serving
    // the fact-table aggregate from it between batches.
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = s"${sys.props("java.io.tmpdir")}/graft_stream_mv"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val factPath = s"$base/fact"
    val mvPath = s"$base/mv"
    Seq((0L, "x", 10L)).toDF("id", "k", "m").withColumn("b", lit(0L))
      .write.partitionBy("b").parquet(factPath)
    val mv = graft.plans.MvRewrite.materializePartitioned(spark, "mv_stream",
      factPath, "b", dims = Seq("k"), measures = Seq("m"), mvPath)

    val mem = MemoryStream[(Long, String, Long)]
    val q = mem.toDF().toDF("id", "k", "m").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try batch.withColumn("b", lit(id + 1))
          .write.mode("overwrite").partitionBy("b").parquet(factPath)
        finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        graft.plans.MvRewrite.rebuildIncremental(spark, mv)
        ()
      }.start()
    mem.addData((1L, "x", 5L), (2L, "y", 7L)); q.processAllAvailable()
    mem.addData((3L, "y", 1L)); q.processAllAvailable()
    q.stop()

    graft.plans.MvRewrite.install(spark)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def agg() = spark.read.parquet(factPath)
      .groupBy(col("k"))
      .agg(sum(col("m")).as("sm"), count(lit(1)).as("n"))
      .orderBy(col("k"))
    val on = agg()
    // the maintained summary answers the query (no fact scan) ...
    val scans = on.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toUri.getPath)
          case _ => Seq.empty
        }
    }.flatten
    val mvData = graft.plans.MvRewrite.registered(spark, factPath).get.dirs
    assert(mvData.forall(_.startsWith(s"$mvPath/data/")),
      "summary versions must rotate under the declared root")
    assert(scans === mvData,
      s"streamed MV must serve the query:\n${on.queryExecution.optimizedPlan}")
    // ... and reflects every micro-batch exactly
    assert(on.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq(("x", 15L, 2L), ("y", 8L, 2L)))
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
  }

  test("stream-stream LEFT OUTER: null extension emits only after the watermark clears the window, exactly once (r17 #4)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = 1704103200L // 2024-01-01 10:00:00 UTC
    val lMem = MemoryStream[(Long, Long, Long)] // (p_id, user, secOffset)
    val rMem = MemoryStream[(Long, Long, Long)]
    val l = lMem.toDF().toDF("p_id", "p_user", "p_off")
      .select(col("p_id"), col("p_user"),
        timestamp_seconds(col("p_off") + base).as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    val r = rMem.toDF().toDF("c_id", "c_user", "c_off")
      .select(col("c_id"), col("c_user"),
        timestamp_seconds(col("c_off") + base).as("c_ts"))
      .withWatermark("c_ts", "0 seconds")
    val joined = l.join(r,
      col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES")
        && col("c_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
      .select(col("p_id"), col("c_id"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = joined.writeStream.format("memory").queryName("g_ssj_outer_spec")
        .outputMode("append").start()
      // multiset, not set: a double-emitted null row must be caught
      def out() = spark.table("g_ssj_outer_spec").collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toSeq.sorted
      // batch 1: P1 (user 1, 10:00) matches C10 (10:05) immediately;
      // P2 (user 2, 10:00) has no click — its window closes at 10:10,
      // which the watermark (min of both streams = 10:00) has NOT
      // cleared, so NO null row yet
      lMem.addData((1L, 1L, 0L), (2L, 2L, 0L))
      rMem.addData((10L, 1L, 300L))
      q.processAllAvailable()
      assert(out() === Seq((1L, 10L)),
        "unmatched row must not null-extend before the watermark clears its window")
      // batch 2: advance BOTH watermarks to 12:00 with disjoint users
      // (8/9 — match nothing); P2's window edge 10:10 < 12:00 → its
      // null row emits now, exactly once. P3 (user 8, 12:00) is held:
      // its window edge 12:10 is above the new watermark.
      lMem.addData((3L, 8L, 7200L))
      rMem.addData((11L, 9L, 7200L))
      q.processAllAvailable()
      assert(out() === Seq((1L, 10L), (2L, -1L)),
        "exactly one null extension, only after the watermark passed")
      // batch 3: advance to 14:00 → P3 evicts unmatched (3, null);
      // P2's null row must NOT re-emit
      lMem.addData((4L, 8L, 14400L))
      rMem.addData((12L, 9L, 14400L))
      q.processAllAvailable()
      assert(out() === Seq((1L, 10L), (2L, -1L), (3L, -1L)),
        "late nulls emit once each; earlier nulls never replay")
      q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("stream-stream FULL OUTER: both sides null-extend on their own watermark-cleared window edge") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = 1704103200L // 2024-01-01 10:00:00 UTC
    val lMem = MemoryStream[(Long, Long, Long)] // (p_id, user, secOffset)
    val rMem = MemoryStream[(Long, Long, Long)] // (c_id, user, secOffset)
    val l = lMem.toDF().toDF("p_id", "p_user", "p_off")
      .select(col("p_id"), col("p_user"),
        timestamp_seconds(col("p_off") + base).as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    val r = rMem.toDF().toDF("c_id", "c_user", "c_off")
      .select(col("c_id"), col("c_user"),
        timestamp_seconds(col("c_off") + base).as("c_ts"))
      .withWatermark("c_ts", "0 seconds")
    val joined = l.join(r,
      col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES")
        && col("c_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"),
      "full_outer")
      .select(col("p_id"), col("c_id"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = joined.writeStream.format("memory").queryName("g_ssj_full_spec")
        .outputMode("append").start()
      def out() = spark.table("g_ssj_full_spec").collect()
        .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
          if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toSeq.sorted
      // batch 1: P1/C10 (user 1) match; P2 (user 2) and C11 (user 3)
      // both unmatched — neither null-extends yet (wm = 10:00)
      lMem.addData((1L, 1L, 0L), (2L, 2L, 0L))
      rMem.addData((10L, 1L, 300L), (11L, 3L, 0L))
      q.processAllAvailable()
      assert(out() === Seq((1L, 10L)),
        "no null extension before the watermark clears either window")
      // batch 2: advance both to 12:00 (disjoint users 8/9) → BOTH
      // P2's edge (10:10) and C11's edge (10:10) are cleared; each
      // side emits its null row exactly once
      lMem.addData((3L, 8L, 7200L))
      rMem.addData((12L, 9L, 7200L))
      q.processAllAvailable()
      assert(out() === Seq((-1L, 11L), (1L, 10L), (2L, -1L)),
        "both sides null-extend exactly once after the watermark passes")
      q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
