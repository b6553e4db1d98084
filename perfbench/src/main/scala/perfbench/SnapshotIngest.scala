package perfbench

import java.io.File
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, date_format, expr}
import org.apache.spark.sql.types.StructType

import graft.sources.Snapshots

/** `snapshot_ingest`: the ACID write path with reads beside the writes.
  *
  * Each pass builds a month-partitioned snapshot table from scratch and
  * runs rounds of append (the next `l_shipdate` month, in time order),
  * keyed upsert and keyed delete, each followed by a latest read, a
  * narrow `l_shipdate` range read, a two-month partition range read and
  * an as-of read of an older version; then one compaction, the same reads, and the stream keys
  * that write and tail snapshot tables. History grows within a pass.
  *
  * Every operation's answer is checked against a driver-side replay of
  * the same operations on plain rows. */
final class SnapshotIngest(spark: SparkSession, runner: Runner, seed: Long,
    work: File) extends Workload {
  val name = "snapshot_ingest"

  val streamKeys: Seq[String] =
    Seq("stream_snapshot_source", "stream_snapshot_sink", "stream_stateful_count")
  private val Part = "l_shipmonth"
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val InitMonths = 12
  private val Rounds = 5

  private val queries = graft.SparkEntry.queries
  private val base = Inputs.base(work)
  private var lineitem: DataFrame = _
  private var schema: StructType = _
  private var byMonth: Map[String, Array[Row]] = Map.empty
  private var months: IndexedSeq[String] = IndexedSeq.empty
  private val seen = mutable.HashMap.empty[String, Long]
  var tablesLoadS = 0.0

  // state of the latest pass, read by finish()
  private var root: String = _
  private var replay = mutable.LinkedHashMap.empty[(Long, Int), Row]
  private var midVersion = 0L
  private var midRows: Seq[Row] = Nil
  private var lastRange: (LocalDateTime, LocalDateTime) = _
  private var lastMonths: (String, String) = _

  def prepare(): Unit = {
    tablesLoadS = runner.seconds(Seq("lineitem", "orders", "events").foreach(t =>
      graft.Tables.t(spark, base, t).count()))._2
    lineitem = graft.Tables.t(spark, base, "lineitem")
      .withColumn(Part, date_format(col("l_shipdate"), "yyyy-MM"))
    schema = lineitem.schema
    require(schema.fieldIndex(Part) == PartIdx && schema.fieldIndex("l_shipdate") == ShipDate)
    byMonth = lineitem.collect().groupBy(month)
    months = byMonth.keys.toIndexedSeq.sorted
    // inputs.py spreads l_shipdate over exactly these months, so a pass
    // ingests every generated row
    require(months.size == InitMonths + Rounds,
      s"${months.size} shipdate months, want $InitMonths + $Rounds rounds")
  }

  // column positions in the generated lineitem (+ partition column)
  private val OrderKey = 0
  private val LineNumber = 3
  private val Quantity = 4
  private val Price = 5
  private val ShipDate = 10
  private val PartIdx = 11

  private def key(r: Row): (Long, Int) = (r.getLong(OrderKey), r.getInt(LineNumber))
  private def month(r: Row): String = r.getString(PartIdx)
  private def shipDay(r: Row): Long = r.get(ShipDate).asInstanceOf[LocalDateTime].toLocalDate.toEpochDay
  private def rng(salt: Int) = new scala.util.Random(seed * 1000003L + salt)
  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
  private def expectRows(n: => Long)(rows: Long): Option[String] =
    Option.when(rows != n)(s"$rows rows, replay has $n")

  /** Upsert source for round `r`: a fifth of two present months'
    * rows with new quantities and prices, plus five new keys. */
  private def upserts(p: Int, r: Int, present: IndexedSeq[String]): Seq[Row] = {
    val g = rng(p * 100 + r)
    val ms = Seq(present.last, present(g.nextInt(present.size)))
    val changed = ms.distinct.flatMap(m => replay.values.filter(month(_) == m))
      .filter(_ => g.nextInt(5) == 0)
      .map { row =>
        val v = row.toSeq.toArray
        v(Quantity) = row.getDouble(Quantity) + 1.0
        v(Price) = math.round(row.getDouble(Price) * 101.0) / 100.0
        Row.fromSeq(v.toSeq)
      }
    val template = replay.values.find(month(_) == present.last).get
    val added = (0 until 5).map { j =>
      val v = template.toSeq.toArray
      v(OrderKey) = 100000000L + p * 100000L + r * 100L + j
      v(LineNumber) = 1
      Row.fromSeq(v.toSeq)
    }
    changed ++ added
  }

  private def deleted(r: Int)(row: Row): Boolean =
    Math.floorMod(row.getLong(OrderKey) * 31 + row.getInt(LineNumber) + r * 7 + seed % 1000, 10L) == 0

  private def reads(p: Int, step: Int, versions: mutable.LinkedHashMap[Long, Int]): Unit = {
    val g = rng(p * 100 + step + 50)
    runner.op("read_latest", "read", "sources.Snapshots")(Snapshots.read(spark, root))(
      expectRows(replay.size.toLong))
    // a ten-day window inside the loaded months
    val days = replay.values.map(shipDay)
    val lo = java.time.LocalDate.ofEpochDay(days.min +
      g.nextInt(math.max(1, (days.max - days.min).toInt - 10))).atStartOfDay
    val hi = lo.plusDays(10).minusNanos(1000)
    lastRange = (lo, hi)
    runner.op("read_range", "read", "sources.Snapshots")(
      Snapshots.readRange(spark, root, "l_shipdate", lo, hi))(expectRows(
      replay.values.count { row =>
        val t = row.get(ShipDate).asInstanceOf[LocalDateTime]; !t.isBefore(lo) && !t.isAfter(hi)
      }.toLong))
    // a two-month partition range: the one read whose column carries
    // marker stats, so manifest pruning applies
    val present = replay.values.map(month).toIndexedSeq.distinct.sorted
    val m0 = g.nextInt(math.max(1, present.size - 1))
    val (mLo, mHi) = (present(m0), present(math.min(m0 + 1, present.size - 1)))
    lastMonths = (mLo, mHi)
    runner.op("read_range_month", "read", "sources.Snapshots")(
      Snapshots.readRange(spark, root, Part, mLo, mHi))(expectRows(
      replay.values.count { row => month(row) >= mLo && month(row) <= mHi }.toLong))
    val older = versions.keys.toIndexedSeq.init
    if (older.nonEmpty) {
      val v = older(g.nextInt(older.size))
      runner.op("read_asof", "read", "sources.Snapshots")(Snapshots.readAsOf(spark, root, v))(
        expectRows(versions(v).toLong))
    }
  }

  private def commit(name: String)(verb: => Long)(
      apply: () => Unit, versions: mutable.LinkedHashMap[Long, Int]): Unit = {
    var v = -1L
    runner.op(name, "commit", "sources.Snapshots") { v = verb; null } { _ =>
      apply()
      versions(v) = replay.size
      None
    }
    if (v < 0) apply() // keep the replay in step after a failed commit
  }

  private val parityOut = new File(work, "parity/ingest").getPath

  /** Pass `p` on a fresh table under `work/tables/ingest_<p>`. The warm
    * pass writes the stream keys' results for the parity check instead
    * of counting them; the timed passes must give their row counts. */
  private def ingest(p: Int, nRounds: Int, warm: Boolean = false): Unit = {
    Option(root).foreach(r => Io.deleteTree(new File(r)))
    root = new File(work, s"tables/ingest_$p").getPath
    replay = mutable.LinkedHashMap.empty
    val versions = mutable.LinkedHashMap.empty[Long, Int]
    def add(rows: Seq[Row]): Unit = rows.foreach(r => replay(key(r)) = r)
    val init = months.take(InitMonths)
    commit("create")(Snapshots.commitPartitioned(spark, root,
      lineitem.filter(col(Part).isin(init: _*)), Part, 0L))(
      () => add(init.flatMap(m => byMonth(m).toSeq)), versions)
    (0 until nRounds).foreach { r =>
      val m = months(InitMonths + r)
      val latest = Snapshots.latest(spark, root).getOrElse(0L)
      commit("append")(Snapshots.appendPartitioned(spark, root,
        lineitem.filter(col(Part) === m), Part, latest))(() => add(byMonth(m).toSeq), versions)
      val present = months.take(InitMonths + r + 1)
      val src = upserts(p, r, present)
      commit("merge")(Snapshots.mergeTransform(spark, root, Part, frame(src), Keys))(
        () => add(src), versions)
      val dm = present(rng(p * 100 + r + 10).nextInt(present.size))
      val c = r * 7 + seed % 1000
      commit("delete")(Snapshots.replaceTransform(spark, root, Part)(cur =>
        cur.filter(col(Part) === dm && !expr(s"pmod(l_orderkey * 31 + l_linenumber + $c, 10) = 0"))))(
        () => replay.filterInPlace { case (_, row) =>
          !(month(row) == dm && deleted(r)(row)) }, versions)
      if (r == nRounds / 2) {
        midVersion = versions.keys.last
        midRows = replay.values.toSeq
      }
      reads(p, r, versions)
    }
    commit("compact")(Snapshots.compactPartitioned(spark, root, Part))(() => (), versions)
    reads(p, nRounds, versions)
    if (warm) {
      Parity.write(spark, queries, streamKeys, base, parityOut)
      seen ++= Parity.rowCounts(spark, streamKeys, parityOut)
    } else streamKeys.foreach { k =>
      runner.op(k, "key", "operators")(queries(k)(spark, base)) { n =>
        seen.get(k) match {
          case Some(prev) if prev != n => Some(s"$k: $n rows, earlier $prev")
          case Some(_) => None
          case None => seen(k) = n; None
        }
      }
    }
  }

  def warm(): Unit = ingest(0, 1, warm = true)
  def pass(n: Int): Unit = ingest(n, Rounds)

  /** Row count and order-independent hash (wrapping sum of xxhash64). */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val h = df.select(expr(s"xxhash64(${schema.fieldNames.mkString(", ")})")).collect()
    (h.length.toLong, h.map(_.getLong(0)).sum)
  }

  def finish(traced: Boolean): WorkloadReport = {
    val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
    val r = mutable.LinkedHashMap.empty[String, Double]
    def same(what: String, got: (Long, Long), want: (Long, Long)) =
      checks += what -> Option.when(got != want)(
        s"$what: (rows, hash) = $got, replay gives $want")
    same("final_snapshot", fingerprint(Snapshots.read(spark, root)),
      fingerprint(frame(replay.values.toSeq)))
    same(s"time_travel_v$midVersion",
      fingerprint(Snapshots.readAsOf(spark, root, midVersion)),
      fingerprint(frame(midRows)))

    val timed = runner.timed
    def med(names: String*) = {
      val xs = timed.filter(o => names.contains(o.name)).map(_.wallS)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    r("snap.append_s") = med("append")
    r("snap.merge_s") = med("merge")
    r("snap.delete_s") = med("delete")
    r("snap.compact_s") = med("compact")
    r("snap.read_latest_s") = med("read_latest")
    r("snap.read_range_s") = med("read_range", "read_range_month")
    r("snap.read_asof_s") = med("read_asof")
    r("commit_p50_s") = Stats.median(timed.filter(_.kind == "commit").map(_.wallS))
    r("read_p50_s") = Stats.median(timed.filter(_.kind == "read").map(_.wallS))

    val live = Snapshots.read(spark, root)
    val liveFiles = live.inputFiles.length
    val scanned = Snapshots.readRange(spark, root, "l_shipdate", lastRange._1, lastRange._2)
      .inputFiles.length
    val scannedMonths = Snapshots.readRange(spark, root, Part, lastMonths._1, lastMonths._2)
      .inputFiles.length
    r("snap.versions") = Snapshots.versions(spark, root).size
    r("snap.files_live") = liveFiles
    r("snap.range_files_scanned") = scanned
    r("snap.range_prune_ratio") = scanned.toDouble / math.max(1, liveFiles)
    r("snap.month_files_scanned") = scannedMonths
    val plain = new File(work, "tables/live_once")
    live.write.mode("overwrite").parquet(plain.getPath)
    val written = Io.treeBytes(new File(root)).toDouble
    val once = Io.treeBytes(plain).toDouble
    r("snap.bytes_written_mb") = written / (1 << 20)
    r("snap.bytes_live_mb") = once / (1 << 20)
    r("write_amp") = written / math.max(1.0, once)

    WorkloadReport(checks.toSeq, r.toMap, Seq(base -> parityOut))
  }
}
