package graft.streaming

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** §2.10 Structured Streaming (SURVEY.md:289-299), driven by the
  * testbed's `events` table as a file-source stream.
  *
  * Determinism: a file source drained with Trigger.AvailableNow over
  * ONE input file is a single micro-batch, so append/update/complete
  * results equal their batch counterparts — each key's oracle is the
  * equivalent batch SQL. Late-data semantics (inherently multi-batch)
  * are driven by a scripted MemoryStream with processAllAvailable
  * between batches, which is just as deterministic, so even that key
  * carries an exact VALUES oracle.
  *
  * At scale the same topologies run unbounded: state (windows,
  * dedup keys, join buffers) is keyed by shuffle partition in the
  * StateStore and bounded by the watermarks declared here — none of
  * these queries accumulates unbounded state.
  */
object Streams {

  /** The events table as a file-source stream: [[Tables.stream]]'s
    * in-place, drift-normalized read, with `ts` as the instant
    * TimestampType the watermarks use. Under the pinned UTC session it
    * carries the same wall clock as the NTZ convention — output
    * boundaries cast back to NTZ (dateOut). */
  private[graft] def eventsStream(s: SparkSession, d: String): DataFrame =
    Tables.stream(s, d, "events").withColumn("ts", col("ts").cast(TimestampType))

  /** The documents corpus as a file-source stream (the continuous-
    * ingest form of the §2.12 pipeline inputs). */
  private[graft] def documentsStream(s: SparkSession, d: String): DataFrame =
    Tables.stream(s, d, "documents")

  /** transformWithState requires the RocksDB state store provider. */
  private[graft] val RocksDbProvider =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run to completion on the memory sink under `conf`, return the
    * sink table. Stateful operators instantiate one StateStore per
    * shuffle partition per micro-batch; with the tiny events volume
    * the per-partition fixed cost dominates, so the stream runs with 4
    * state partitions (a local-mode sizing — on a cluster this knob
    * is sized to executor count × state volume, exactly as
    * spark.sql.shuffle.partitions itself is). */
  private[graft] def drain(df: DataFrame, mode: String, name: String,
      conf: (String, String)*): DataFrame = {
    val spark = df.sparkSession
    Q.withConf(spark, ("spark.sql.shuffle.partitions" -> "4") +: conf: _*) {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name)
    }
  }

  /** The stream-stream joins' shared shape: watermarked purchase and
    * click sides of the events stream, joined `how` on the same user
    * within ±10 minutes. */
  private def purchaseClickJoin(s: SparkSession, d: String, how: String): DataFrame = {
    def side(kind: String, pre: String) =
      eventsStream(s, d).filter(col("event_type") === kind)
        .select(col("event_id").as(s"${pre}_id"), col("user_id").as(s"${pre}_user"),
          col("ts").as(s"${pre}_ts"))
        .withWatermark(s"${pre}_ts", "1 hour")
    side("purchase", "p").join(side("click", "c"),
      col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES")
        && col("c_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"),
      how)
  }

  /** Exact cents: round half-away on positive doubles agrees across
    * engines; decimal casts of arbitrary-precision doubles do not. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast(LongType)

  /** Per-user running (count, cent-sum) as a Spark 4 StatefulProcessor:
    * one ValueState row per user in the RocksDB StateStore, keyed by
    * shuffle partition — the transformWithState analogue of the legacy
    * flatMapGroupsWithState fold below. No TTL: the aggregate is
    * all-time by contract (a production unbounded run would bound
    * state with TTLConfig, which this API — unlike the legacy one —
    * supports natively). */
  private[graft] class RunningUserAgg
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var agg: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Long)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val (n0, c0) = if (agg.exists()) agg.get() else (0L, 0L)
      var n = n0; var c = c0
      rows.foreach { r => n += 1; c += r._2 }
      agg.update((n, c))
      Iterator((user, n, c))
    }
  }

  /** Event-time SESSIONIZATION on the transformWithState TIMER
    * surface — the pattern the timer API exists for. Per user:
    * rows of a batch are sorted and folded gaps-and-islands style;
    * sessions closed BY THE DATA (a following event ≥ gap later)
    * emit immediately, and the trailing open session is held in a
    * ValueState with an event-time timer at (end + gap) — when the
    * watermark passes it, [[handleExpiredTimer]] emits the session
    * and clears state. Timers are ms-granular while event time is µs,
    * so the expiry rounds UP (never early); the declared key's SQL
    * oracle reproduces exactly this ms arithmetic for the per-user
    * final session. State per key is one (start, end, n) triple —
    * bounded, watermark-reclaimed; at 100 TB this scales with
    * concurrently-open sessions (= keys), not with history. */
  private[graft] class SessionTimers(gapUs: Long)
      extends StatefulProcessor[
        Long, (Long, java.sql.Timestamp),
        (Long, java.sql.Timestamp, java.sql.Timestamp, Long)] {
    @transient private var open: ValueState[(Long, Long, Long)] = _
    private def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    private def ts(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000))
    private def expiryMs(endUs: Long): Long =
      Math.floorDiv(endUs + gapUs + 999L, 1000L) // round UP: never fire early
    private def emit(user: Long, st: (Long, Long, Long)) =
      (user, ts(st._1), ts(st._2 + gapUs), st._3)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long, Long)]("open",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)] = {
      val sorted = rows.map(r => micros(r._2)).toArray.sorted
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      var cur = if (open.exists()) { // resume the held session
        val st = open.get(); getHandle.deleteTimer(expiryMs(st._2)); st
      } else null
      sorted.foreach { t =>
        cur match {
          case null => cur = (t, t, 1L)
          case (st, en, n) =>
            if (t - en >= gapUs) { out += emit(user, cur); cur = (t, t, 1L) }
            else cur = (st, math.max(en, t), n + 1)
        }
      }
      if (cur != null) {
        open.update(cur)
        getHandle.registerTimer(expiryMs(cur._2))
      }
      out.iterator
    }
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)] = {
      if (open.exists()) {
        val st = open.get(); open.clear(); Iterator(emit(user, st))
      } else Iterator.empty
    }
  }

  /** The legacy arbitrary-state form (flatMapGroupsWithState), kept as
    * the unit cross-check oracle for [[RunningUserAgg]]. */
  private[graft] def statefulCountLegacy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = eventsStream(s, d)
      .select(col("user_id"), cents(col("value")).as("cents"))
      .as[(Long, Long)]
    val updated = ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, c0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var c = c0
          rows.foreach { r => n += 1; c += r._2 }
          state.update((n, c))
          Iterator((user, n, c))
      }
    drain(updated.toDF("user_id", "n_events", "sum_cents"), "update", "g_stateful_legacy")
      .select(col("user_id"), col("n_events"),
        (col("sum_cents").cast(DoubleType) / 100).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** The exactly-once discipline for an APPEND-shaped `foreachBatch`
    * parquet sink: write each micro-batch into its own
    * `batch_id=<id>` partition with overwrite. Structured Streaming
    * guarantees at-least-once delivery to foreachBatch — a crash
    * between the sink write and the checkpoint commit REPLAYS the
    * batch with the SAME batchId on restart — so a blind append would
    * duplicate it; the batchId-keyed overwrite makes the replay land
    * on the partition it already wrote, turning redelivery into a
    * no-op (StreamRecoverySpec scripts the double delivery). The
    * `stream_foreachbatch_sink` key's complete-mode full overwrite is
    * the same idea at whole-result granularity. */
  private[graft] def idempotentBatchWriter(out: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")

  val queries: Map[String, Q.QueryFn] = Map(
    "stream_tumbling" -> { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
      drain(agg, "complete", "g_tumbling")
        .select(dateOut(col("window.start")).as("wstart"), dateOut(col("window.end")).as("wend"),
          col("event_type"), col("n"),
          (col("sum_cents").cast(DoubleType) / 100).as("sum_value"))
        .orderBy(col("wstart"), col("event_type"))
    },

    "stream_sliding" -> { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      drain(agg, "complete", "g_sliding")
        .select(dateOut(col("window.start")).as("wstart"), col("event_type"), col("n"))
        .orderBy(col("wstart"), col("event_type"))
    },

    "stream_session" -> { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      drain(agg, "complete", "g_session")
        .select(col("user_id"), dateOut(col("session_window.start")).as("sstart"),
          dateOut(col("session_window.end")).as("send"), col("n"))
        .orderBy(col("user_id"), col("sstart"))
    },

    // Sessionization driven by event-time TIMERS (SessionTimers): the
    // arbitrary-state formulation of stream_session's built-in
    // session_window, exercising registerTimer/handleExpiredTimer.
    // Data-closed sessions emit in the data batch; each user's
    // trailing session emits from its timer when the final watermark
    // (max ts − 1 h) passes end + gap — the oracle reproduces that
    // cutoff, ms arithmetic included, so the key is hash-exact.
    "stream_session_timers" -> { (s, d) =>
      import s.implicits._
      val gapUs = 30L * 60 * 1000000L
      val ds = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
      val sessions = ds.groupByKey(_._1)
        .transformWithState(new SessionTimers(gapUs),
          TimeMode.EventTime(), OutputMode.Append())
      drain(sessions.toDF("user_id", "sstart", "send", "n"), "append",
        "g_session_timers", RocksDbProvider)
        .select(col("user_id"), dateOut(col("sstart")).as("sstart"),
          dateOut(col("send")).as("send"), col("n"))
        .orderBy(col("user_id"), col("sstart"))
    },

    // The §2.12 corpus-ingest pipeline AS A STREAM: documents arrive
    // continuously, a per-row quality gate drops short docs, and
    // exact content dedup runs incrementally as a streaming
    // groupBy(content hash) — the shape a production corpus ingest
    // actually runs (state = one (keeper, count) row per DISTINCT
    // content hash, partial-aggregable; a production unbounded run
    // bounds it by watermarked arrival time + TTL, here the corpus is
    // finite). Complete-mode output = the batch exactDedupGroups over
    // the gated corpus, so the key is oracle-exact. Winner is
    // min(doc_id) — an AGGREGATE, never dropDuplicates' first-row-
    // per-batch, whose winner is partition-order-dependent.
    "stream_llm_ingest" -> { (s, d) =>
      val gated = documentsStream(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")))
        .filter(col("n_toks") >= 20)
        .withColumn("h", sha2(lower(trim(col("text"))).cast("binary"), 256))
      val dedup = gated.groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"),
          sum(col("n_toks")).as("sum_toks"))
      drain(dedup, "complete", "g_llm_ingest").orderBy(col("h"))
    },

    "stream_dedup_watermark" -> { (s, d) =>
      // duplicate injection: the same file read as two source streams
      val doubled = eventsStream(s, d).union(eventsStream(s, d))
      val dedup = doubled
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id")
        .select(col("event_id"), dateOut(col("ts")).as("ts"), col("user_id"), col("event_type"))
      drain(dedup, "append", "g_dedup").orderBy(col("event_id"))
    },

    // Spark 4's current arbitrary-state surface (transformWithState +
    // StatefulProcessor over a RocksDB StateStore — the API
    // flatMapGroupsWithState is the legacy form of; VERDICT r14 #8).
    // The legacy form is kept as `statefulCountLegacy` and a unit
    // cross-check asserts both produce identical rows.
    "stream_stateful_count" -> { (s, d) =>
      import s.implicits._
      val ds = eventsStream(s, d)
        .select(col("user_id"), cents(col("value")).as("cents"))
        .as[(Long, Long)]
      val updated = ds.groupByKey(_._1)
        .transformWithState(new RunningUserAgg, TimeMode.None(), OutputMode.Update())
      drain(updated.toDF("user_id", "n_events", "sum_cents"), "update",
        "g_stateful", RocksDbProvider)
        .select(col("user_id"), col("n_events"),
          (col("sum_cents").cast(DoubleType) / 100).as("sum_value"))
        .orderBy(col("user_id"))
    },

    "stream_static_join" -> { (s, d) =>
      val stat = Tables.t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val joined = eventsStream(s, d)
        .join(stat, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("c_name"), col("c_mktsegment"), col("event_type"))
      drain(joined, "append", "g_static_join").orderBy(col("event_id"))
    },

    // multi-batch watermark semantics, scripted deterministically:
    // batch1 advances the watermark past the first window; batch2's
    // late arrival (10:02) must be DROPPED; batch3 flushes the rest
    "stream_late_data" -> { (s, d) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val base = 1704103200L // 2024-01-01 10:00:00 UTC
      val mem = MemoryStream[Long]
      val windowed = mem.toDF()
        .select(timestamp_seconds(col("value") + base).as("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(dateOut(col("window.start")).as("wstart"), col("n"))
      Q.withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = windowed.writeStream.format("memory").queryName("g_late")
          .outputMode("append").start()
        def feed(secs: Long*): Unit = { mem.addData(secs); q.processAllAvailable() }
        feed(0, 300, 1260)   // 10:00, 10:05, 10:21 -> watermark 10:11
        feed(120, 2100)      // 10:02 LATE (dropped), 10:35 -> watermark 10:25
        feed(3000)           // 10:50 -> watermark 10:40, flushes 10:20/10:30
        q.stop()
      }
      s.table("g_late").orderBy(col("wstart"))
    },

    "stream_stream_join" -> { (s, d) =>
      val joined = purchaseClickJoin(s, d, "inner")
      drain(joined.select(col("p_id"), col("c_id"), col("p_user")), "append", "g_ss_join")
        .orderBy(col("p_id"), col("c_id"))
    },

    // Stream-stream LEFT OUTER join (r17 verdict #4): the
    // semantically tricky half of stream-stream joins — an unmatched
    // left row cannot emit its null-extended result when it arrives
    // (a matching click may still be in flight); it emits EXACTLY
    // ONCE, when the watermark proves no future right row can land in
    // its ±10 min window (p_ts + 10 min below the right-side
    // watermark → state eviction emits the null row). Matched rows
    // emit immediately, inner-join style. Purchases near the end of
    // the stream whose window the final watermark (max ts − 1 h)
    // never clears stay in state and never emit — the oracle
    // reproduces that cutoff with the engine's ms-granular watermark
    // arithmetic, so the key is hash-exact (same discipline as
    // stream_session_timers). The late-null-emission TIMING (no null
    // before the watermark passes, exactly one after) is
    // MemoryStream-scripted in StreamRecoverySpec. At 100 TB the
    // outer join's state is bounded exactly like the inner's — both
    // sides watermark-evicted — plus the unmatched-left bookkeeping;
    // no unbounded growth.
    "stream_stream_join_outer" -> { (s, d) =>
      val joined = purchaseClickJoin(s, d, "left_outer")
      // c_id is NULL only on unmatched rows, whose p_id carries no
      // matched sibling — the sort never tie-breaks through a NULL,
      // so Spark NULLS FIRST vs DuckDB NULLS LAST cannot diverge
      drain(joined.select(col("p_id"), col("c_id"), col("p_user")),
        "append", "g_ss_join_outer")
        .orderBy(col("p_id"), col("c_id"))
    },

    // FULL OUTER completes the stream-stream family: BOTH sides
    // null-extend on state eviction — an unmatched purchase when the
    // watermark clears p_ts + 10 min, an unmatched click when it
    // clears c_ts + 10 min (the condition's symmetric bound: a future
    // purchase could still match a click until wm > c_ts + 10 min).
    // Matched rows emit inner-style. Null p_id rows exist here (the
    // right-unmatched side), so the output order must stay
    // deterministic THROUGH nulls: Spark's default asc is NULLS
    // FIRST, restated explicitly in the oracle. State bounding at
    // 100 TB is identical to the inner form — both sides
    // watermark-evicted, plus one unmatched flag per buffered row.
    "stream_stream_join_full_outer" -> { (s, d) =>
      val joined = purchaseClickJoin(s, d, "full_outer")
      drain(joined.select(col("p_id"), col("c_id"), col("p_user"), col("c_user")),
        "append", "g_ss_join_full")
        .orderBy(col("p_id"), col("c_id"))
    },

    "stream_foreachbatch_sink" -> { (s, d) =>
      // keyed by the input dir like Scans.ioDir — concurrent runs at
      // different SFs must never clobber each other's sink (ADVICE r4)
      val out = s"${sys.props("java.io.tmpdir")}/graft_io/${Q.pathKey(d)}/stream_fb"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val agg = eventsStream(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val q = agg.writeStream
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .start()
      q.awaitTermination()
      s.read.parquet(out).orderBy(col("event_type"))
    },

    // Transactional EXACTLY-ONCE streaming sink (r18): each
    // micro-batch lands as ONE atomic append commit on the
    // snapshot-isolated table (sources/Snapshots.scala), the batchId
    // riding in the commit marker itself — ledger and data are one
    // atomic unit, so a batch replayed by failure recovery is
    // detected and skipped (Delta's txn appId/version idempotence;
    // the replay skip is unit-raced in SnapshotSpec). This upgrades
    // stream_foreachbatch_sink's overwrite-idempotence to true
    // transactional append: concurrent readers of the table see
    // complete snapshots only, never a half-written batch. At 100 TB
    // each commit writes just the batch plus one marker — standing
    // data is never rewritten (manifest append).
    "stream_snapshot_sink" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${sys.props("java.io.tmpdir")}/graft_io/${Q.pathKey(d)}/stream_snap/tbl"
      graft.Fs.deleteDir(s, root)
      val rows = eventsStream(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"))
      val q = rows.writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Snapshots.txnAppend(batch.sparkSession, root, batch, batchId): Unit
        }
        .start()
      q.awaitTermination()
      Snapshots.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nu"))
        .orderBy(col("event_type"))
    },

    // The READ side of the snapshot table's streaming story (r19; the
    // write side is stream_snapshot_sink): `graft-snapshot` is also a
    // STREAMING SOURCE that tails the commit log — offsets ARE
    // version numbers, and each micro-batch is the snapshot scan over
    // exactly the manifest entries its offset range ADDED
    // (Snapshots.addedDirsBetween), so standing data is never re-read
    // and exactly-once composes end to end: txnAppend in, commit-log
    // tail out. The key builds a 3-commit append history (a seed load
    // + two exactly-once txnAppend micro-batches), tails it from the
    // beginning, and aggregates the drained rows; the oracle restates
    // the union of the three slices from the base table. Per-commit
    // batch boundaries, checkpoint-offset restart (SerializedOffset),
    // no-replay, and the append-only contract (a compact fails the
    // stream with a named error) are SnapshotSpec-asserted.
    "stream_snapshot_source" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${sys.props("java.io.tmpdir")}/graft_io/${Q.pathKey(d)}/stream_snap_src/tbl"
      graft.Fs.deleteDir(s, root)
      val o = Tables.t(s, d, "orders")
      def slice(lo: Long, hi: Long) =
        o.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
          .select(col("o_orderkey"), col("o_orderstatus"),
            dec(col("o_totalprice")).as("price"))
      Snapshots.commit(s, root, slice(0L, 500L), expectedParent = 0L)
      Snapshots.txnAppend(s, root, slice(500L, 1000L), batchId = 0L): Unit
      Snapshots.txnAppend(s, root, slice(1000L, 1500L), batchId = 1L): Unit
      val tail = s.readStream.format("graft-snapshot")
        .option("path", root).load()
      drain(tail, "append", "g_snap_source")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), money(sum(col("price"))).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }
  )

  val oracle: Map[String, String] = Map(
    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS wstart,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY wstart, event_type""".stripMargin,
    "stream_sliding" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) - k * (INTERVAL '15 minutes') AS wstart,
        |  event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
        |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    "stream_session" ->
      """WITH o AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |f AS (SELECT user_id, ts,
        |    sum(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS sstart, max(ts) + INTERVAL '30 minutes' AS send, count(*) AS n
        |FROM f GROUP BY user_id, sid ORDER BY user_id, sstart""".stripMargin,
    // same gaps-and-islands sessionization as stream_session, but the
    // per-user FINAL session only appears if its (end + gap) timer
    // would fire under the final watermark (max ts − 1 h), with the
    // engine's ms-granular timer arithmetic mirrored exactly:
    // expiry = ceil(µs/1000), watermark = floor(µs/1000)
    "stream_session_timers" ->
      """WITH o AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |f AS (SELECT user_id, ts,
        |    sum(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM o),
        |sess AS (SELECT user_id, sid, min(ts) AS sstart, max(ts) AS send_raw, count(*) AS n
        |         FROM f GROUP BY user_id, sid),
        |wm AS (SELECT (epoch_us(max(ts)) - 3600000000) // 1000 AS wm_ms FROM events),
        |lasts AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
        |SELECT s.user_id, s.sstart, s.send_raw + INTERVAL '30 minutes' AS send, s.n
        |FROM sess s JOIN lasts l ON s.user_id = l.user_id, wm
        |WHERE s.sid < l.last_sid
        |   OR (epoch_us(s.send_raw) + 1800000000 + 999) // 1000 <= wm.wm_ms
        |ORDER BY s.user_id, s.sstart""".stripMargin,
    "stream_dedup_watermark" ->
      """SELECT event_id, ts, user_id, event_type FROM events ORDER BY event_id""".stripMargin,
    "stream_llm_ingest" ->
      """WITH g AS (SELECT doc_id, text, len(string_split(text, ' ')) AS n_toks
        |           FROM documents WHERE len(string_split(text, ' ')) >= 20)
        |SELECT sha256(lower(trim(text))) AS h, min(doc_id) AS keeper,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |FROM g GROUP BY 1 ORDER BY h""".stripMargin,
    "stream_stateful_count" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_static_join" ->
      """SELECT event_id, c_name, c_mktsegment, event_type
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    "stream_late_data" ->
      """SELECT * FROM (VALUES
        |  (TIMESTAMP '2024-01-01 10:00:00', CAST(2 AS BIGINT)),
        |  (TIMESTAMP '2024-01-01 10:20:00', CAST(1 AS BIGINT)),
        |  (TIMESTAMP '2024-01-01 10:30:00', CAST(1 AS BIGINT))) v(wstart, n)
        |ORDER BY wstart""".stripMargin,
    "stream_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS p_user
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL '10 minutes'
        | AND c.ts <= p.ts + INTERVAL '10 minutes'
        |ORDER BY p_id, c_id""".stripMargin,
    "stream_foreachbatch_sink" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // every event landed in the versioned table exactly once, so the
    // table aggregates to the batch truth
    "stream_snapshot_sink" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS nu
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the tailed rows are exactly the union of the three committed
    // slices — restated straight from the base table
    "stream_snapshot_source" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey >= 0 AND o_orderkey < 1500
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // inner matches as stream_stream_join; an unmatched purchase
    // null-extends ONLY if the final watermark clears its window's
    // upper edge (p_ts + 10 min, ms-floored) — mirroring the engine's
    // ms-granular state-eviction arithmetic exactly (the
    // stream_session_timers discipline). The watermark is the MIN of
    // the two streams' own watermarks (each tracks the max event time
    // of ITS filtered rows, ms-floored, minus 1 h — Spark's
    // multiple-watermark global-min policy), NOT max(ts) over all
    // events: measured at sf0.001, the purchase stream runs ~1.9 h
    // past the click stream, and an all-events watermark wrongly
    // evicts one extra purchase
    "stream_stream_join_outer" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least(
        |    (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'purchase'),
        |    (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'click'))
        |  - 3600000 AS wm_ms)
        |SELECT p.p_id, c.c_id, p.p_user
        |FROM p JOIN c ON p.p_user = c.c_user
        | AND c.c_ts >= p.p_ts - INTERVAL '10 minutes'
        | AND c.c_ts <= p.p_ts + INTERVAL '10 minutes'
        |UNION ALL
        |SELECT p.p_id, NULL, p.p_user
        |FROM p, wm
        |WHERE NOT EXISTS (SELECT 1 FROM c
        |        WHERE c.c_user = p.p_user
        |          AND c.c_ts >= p.p_ts - INTERVAL '10 minutes'
        |          AND c.c_ts <= p.p_ts + INTERVAL '10 minutes')
        |  AND (epoch_us(p.p_ts) + 600000000) // 1000 < wm.wm_ms
        |ORDER BY p_id, c_id""".stripMargin,
    // full outer = inner matches + BOTH watermark-gated null
    // extensions; the same ms-floored min-of-stream-watermarks
    // cutoff, applied to each side's own window edge. NULLS FIRST
    // restated for DuckDB (Spark's asc default).
    "stream_stream_join_full_outer" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least(
        |    (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'purchase'),
        |    (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'click'))
        |  - 3600000 AS wm_ms)
        |SELECT p.p_id, c.c_id, p.p_user, c.c_user
        |FROM p JOIN c ON p.p_user = c.c_user
        | AND c.c_ts >= p.p_ts - INTERVAL '10 minutes'
        | AND c.c_ts <= p.p_ts + INTERVAL '10 minutes'
        |UNION ALL
        |SELECT p.p_id, NULL, p.p_user, NULL
        |FROM p, wm
        |WHERE NOT EXISTS (SELECT 1 FROM c
        |        WHERE c.c_user = p.p_user
        |          AND c.c_ts >= p.p_ts - INTERVAL '10 minutes'
        |          AND c.c_ts <= p.p_ts + INTERVAL '10 minutes')
        |  AND (epoch_us(p.p_ts) + 600000000) // 1000 < wm.wm_ms
        |UNION ALL
        |SELECT NULL, c.c_id, NULL, c.c_user
        |FROM c, wm
        |WHERE NOT EXISTS (SELECT 1 FROM p
        |        WHERE p.p_user = c.c_user
        |          AND c.c_ts >= p.p_ts - INTERVAL '10 minutes'
        |          AND c.c_ts <= p.p_ts + INTERVAL '10 minutes')
        |  AND (epoch_us(c.c_ts) + 600000000) // 1000 < wm.wm_ms
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin
  )
}
