package graft

import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.sources.{Marker, Snapshots}

/** Snapshot reads plan from the commit marker alone: every commit
  * records each entry's Spark schema, so a read takes its schema from
  * the marker and runs no footer-merge job, and each entry's DATE and
  * TIMESTAMP ranges, so a range predicate on such a column skips
  * entries. */
class SnapshotSchemaSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap_schema_").toString + "/tbl"

  private def marker(root: String, v: Long): Marker =
    Marker.decode(new String(Files.readAllBytes(Paths.get(s"$root/_commits/$v")), "UTF-8")).get

  private def latestMarker(root: String): Marker =
    marker(root, Snapshots.latest(spark, root).get)

  /** What the footer merge infers over version `v`'s files. */
  private def inferred(root: String, v: Long): StructType = {
    val fs = Fs.fs(spark, root)
    val files = marker(root, v).names.flatMap(e =>
      Snapshots.entryFiles(spark, root, e).map(n => fs.getFileStatus(new Path(s"$root/data/$e/$n"))))
    new ParquetFileFormat().inferSchema(spark, Map("mergeSchema" -> "true"), files).get.toNullable
  }

  /** The latest version's entries all record a schema, and their merge
    * is what inference reads over the same files, field order included. */
  private def recordedMatches(root: String, verb: String): Unit = {
    val v = Snapshots.latest(spark, root).get
    val entries = marker(root, v).entries
    assert(entries.forall(_.schema.isDefined), s"$verb: every entry records its schema")
    assert(Snapshots.recordedSchema(spark, entries) === Some(inferred(root, v)), verb)
  }

  test("the recorded schema equals footer-merge inference after every verb") {
    val s = spark
    import s.implicits._
    val plain = freshRoot()
    Snapshots.commit(spark, plain, Seq((1L, "a")).toDF("k", "v"), 0L)
    recordedMatches(plain, "plain commit")
    Snapshots.appendCommit(spark, plain, Seq(("b", 2L, 2.5)).toDF("v", "k", "x"), 1L)
    recordedMatches(plain, "append adding a column")
    Snapshots.appendCommit(spark, plain,
      Seq.empty[(Long, String, Double, Option[Long])].toDF("k", "v", "x", "w"), 2L)
    recordedMatches(plain, "widened empty append")
    Snapshots.txnAppend(spark, plain, Seq((3L, "c", 3.5, Some(3L))).toDF("k", "v", "x", "w"), 0L)
    recordedMatches(plain, "txnAppend")
    Snapshots.compact(spark, plain)
    recordedMatches(plain, "compact")
    Snapshots.restore(spark, plain, 1L)
    recordedMatches(plain, "restore")

    val part = freshRoot()
    Snapshots.commitPartitioned(spark, part,
      (1 to 6).map(i => (i.toLong, i % 3, s"v$i")).toDF("k", "p", "v"), "p", 0L)
    recordedMatches(part, "partitioned commit")
    Snapshots.appendPartitioned(spark, part, Seq((7L, 4, "v7", 7L)).toDF("k", "p", "v", "w"), "p", 1L)
    recordedMatches(part, "partitioned append adding a column")
    // the p=4 entry is the only one carrying w: replacing it drops w
    Snapshots.commitReplace(spark, part, Seq((7L, 4, "v7b")).toDF("k", "p", "v"), "p", 2L)
    recordedMatches(part, "replace dropping the only entry with a column")
    assert(Snapshots.read(spark, part).columns.toSeq === Seq("k", "p", "v"))
    Snapshots.commitDropPartitions(spark, part, Seq("0"), 3L)
    recordedMatches(part, "drop partitions")
  }

  /** A 3-entry table: k in 1-3 / 4-6 / 7-9 by p = 1 / 2 / 3. */
  private def table(): String = {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    Snapshots.commitPartitioned(spark, root,
      (1 to 9).map(i => (i.toLong, (i - 1) / 3 + 1, s"v$i")).toDF("k", "p", "v"), "p", 0L)
    root
  }

  private def jobs[T](body: => T): (T, Int) = SparkJobs.count(spark.sparkContext)(body)

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("reads whose marker records the schema start no job before their action") {
    val root = table()
    val planned = Seq(
      "read" -> (() => Snapshots.read(spark, root)),
      "readAsOf" -> (() => Snapshots.readAsOf(spark, root, 1L)),
      "readRange" -> (() => Snapshots.readRange(spark, root, "k", 2L, 5L)),
      "SQL relation" -> (() => spark.read.format("graft-snapshot").option("path", root).load()),
      "stream source" -> (() =>
        spark.readStream.format("graft-snapshot").option("path", root).load()))
    planned.foreach { case (name, read) =>
      val (df, n) = jobs(read())
      assert(n === 0, s"$name started $n jobs before its action")
      assert(df.columns.toSeq === Seq("k", "p", "v"), name)
    }
    assert(keys(Snapshots.readRange(spark, root, "k", 2L, 5L)) === (2L to 5L))
    assert(keys(Snapshots.read(spark, root)) === (1L to 9L))
  }

  test("a legacy marker without the schema fields infers with one job") {
    val root = table()
    val before = keys(Snapshots.read(spark, root))
    val m1 = Paths.get(s"$root/_commits/1")
    val text = new String(Files.readAllBytes(m1), "UTF-8")
    val stripped = text.replaceFirst(""","schemas":"[^"]*","schema":"[^"]*"""", "")
    assert(stripped !== text)
    Files.write(m1, stripped.getBytes("UTF-8"))
    assert(marker(root, 1L).entries.forall(_.schema.isEmpty))
    val (df, n) = jobs(Snapshots.read(spark, root))
    assert(n === 1)
    assert(df.columns.toSeq === Seq("k", "p", "v") && keys(df) === before)
  }

  /** Root of a 3-entry table whose column `c` holds `values(p - 1)` in
    * partition p, written with the session confs `confs` set. */
  private def rangeTable[T](values: Seq[Seq[T]], confs: (String, String)*)(
      implicit enc: org.apache.spark.sql.Encoder[(Long, Int, T)]): String = {
    val root = freshRoot()
    val rows = values.zipWithIndex.flatMap { case (vs, i) =>
      vs.zipWithIndex.map { case (v, j) => ((i * 10 + j).toLong, i + 1, v) }
    }
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try Snapshots.commitPartitioned(spark, root, spark.createDataset(rows).toDF("k", "p", "c"), "p", 0L)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    root
  }

  /** The recorded range of `c` per entry, by p. */
  private def ranges(root: String): Seq[Option[Marker.Stat]] =
    latestMarker(root).entries.sortBy(_.name.split("__gp=")(1)).map(_.stats.get("c"))

  private def micros(t: LocalDateTime): String =
    (t.toEpochSecond(ZoneOffset.UTC) * 1000000L).toString

  private def scannedFiles(df: DataFrame): Long =
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.metrics("numFiles").value
    }.sum

  private val days = Seq(Seq(1, 5), Seq(10, 15), Seq(20, 25))

  private val TsType = "spark.sql.parquet.outputTimestampType"

  test("TIMESTAMP_NTZ ranges are recorded and a SQL BETWEEN reads one of three entries") {
    val s = spark
    import s.implicits._
    val ts = days.map(_.map(d => LocalDateTime.of(2024, 3, d, 12, 0)))
    val root = rangeTable(ts)
    assert(ranges(root) === ts.map(v => Some(Marker.Stat('n', micros(v.min), micros(v.max)))))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW schema_ntz USING `graft-snapshot` " +
      s"OPTIONS (path '$root')")
    val df = spark.sql("SELECT k FROM schema_ntz WHERE c BETWEEN " +
      "TIMESTAMP_NTZ '2024-03-09 00:00:00' AND TIMESTAMP_NTZ '2024-03-12 00:00:00'")
    // collect df itself: its executed plan carries the scan metrics
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(10L))
    val entry2 = latestMarker(root).names.find(_.endsWith("__gp=2")).get
    assert(scannedFiles(df) === Snapshots.entryFiles(spark, root, entry2).size.toLong)
    // the API prunes by the same rule
    val range = Snapshots.readRange(spark, root, "c",
      LocalDateTime.of(2024, 3, 9, 0, 0), LocalDateTime.of(2024, 3, 12, 0, 0))
    assert(keys(range) === Seq(10L))
    assert(range.inputFiles.length === Snapshots.entryFiles(spark, root, entry2).size)
  }

  test("UTC-adjusted MICROS and MILLIS timestamps record micros ranges and prune") {
    val s = spark
    import s.implicits._
    val ts = days.map(_.map(d => java.sql.Timestamp.from(Instant.parse(f"2024-03-$d%02dT12:00:00Z"))))
    for (unit <- Seq("TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      val root = rangeTable(ts, TsType -> unit)
      assert(ranges(root) === ts.map(v => Some(Marker.Stat('t',
        (v.map(_.getTime).min * 1000L).toString, (v.map(_.getTime).max * 1000L).toString))), unit)
      val range = Snapshots.readRange(spark, root, "c",
        Instant.parse("2024-03-09T00:00:00Z"), Instant.parse("2024-03-12T00:00:00Z"))
      assert(keys(range) === Seq(10L), unit)
      val entry2 = latestMarker(root).names.find(_.endsWith("__gp=2")).get
      assert(range.inputFiles.length === Snapshots.entryFiles(spark, root, entry2).size, unit)
    }
  }

  test("DATE ranges are recorded as epoch days and prune") {
    val s = spark
    import s.implicits._
    val ds = days.map(_.map(d => LocalDate.of(2024, 3, d)))
    val root = rangeTable(ds)
    assert(ranges(root) === ds.map(v =>
      Some(Marker.Stat('e', v.min.toEpochDay.toString, v.max.toEpochDay.toString))))
    val range = Snapshots.readRange(spark, root, "c", LocalDate.of(2024, 3, 9), LocalDate.of(2024, 3, 12))
    assert(keys(range) === Seq(10L))
    val entry2 = latestMarker(root).names.find(_.endsWith("__gp=2")).get
    assert(range.inputFiles.length === Snapshots.entryFiles(spark, root, entry2).size)
  }

  test("INT96 timestamps, decimals and legacy-calendar dates record no range") {
    val s = spark
    import s.implicits._
    val ts = days.map(_.map(d => java.sql.Timestamp.from(Instant.parse(f"2024-03-$d%02dT12:00:00Z"))))
    assert(ranges(rangeTable(ts, TsType -> "INT96")) === Seq(None, None, None))
    val dec = days.map(_.map(d => BigDecimal(d) / 4))
    assert(ranges(rangeTable(dec)) === Seq(None, None, None))
    // a file written in the hybrid calendar stores rebased values
    val ds = days.map(_.map(d => LocalDate.of(2024, 3, d)))
    assert(ranges(rangeTable(ds, "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY")) ===
      Seq(None, None, None))
  }

  test("a DATE literal against a timestamp range keeps every entry and returns the right rows") {
    val s = spark
    import s.implicits._
    val ts = days.map(_.map(d => LocalDateTime.of(2024, 3, d, 12, 0)))
    val root = rangeTable(ts)
    val range = Snapshots.readRange(spark, root, "c", LocalDate.of(2024, 3, 5), LocalDate.of(2024, 3, 16))
    // the dates compare as midnight: 03-05 12:00 and 03-10/15 12:00 fall inside
    assert(keys(range) === Seq(1L, 10L, 11L))
    val all = latestMarker(root).names.map(Snapshots.entryFiles(spark, root, _).size).sum
    assert(range.inputFiles.length === all)
    assert(keys(Snapshots.read(spark, root).filter(col("c") >= LocalDate.of(2024, 3, 5))) ===
      Seq(1L, 10L, 11L, 20L, 21L))
  }
}
