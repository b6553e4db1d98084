package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

import graft.sources.Snapshots

/** Every snapshot read plans through one scan over a marker-backed file
  * index: SQL (`graft-snapshot`), stream batches and `readRange` skip
  * the entries whose recorded min/max rule out the filter, and the SQL
  * relation lists each entry dir once. Tables live on [[FaultFs]], which
  * counts the listings and file opens. */
class SnapshotScanSpec extends SparkSpec {

  /** A 3-entry partition-granular table: k is 1-10 / 11-20 / 21-30 and
    * d = 1.5 k in partitions p = 1 / 2 / 3. Returns (root, local dir,
    * data dir of each entry by p). */
  private def table(): (String, String, Map[Int, String]) = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_scan_").toString
    val root = s"faultfs:$dir/tbl"
    Snapshots.commitPartitioned(spark, root,
      (1 to 30).map(i => (i.toLong, (i - 1) / 10 + 1, i * 1.5)).toDF("k", "p", "d"),
      "p", 0L)
    val entries = Snapshots.manifestDirs(spark, root, 1L)
      .map(_.stripPrefix("faultfs:"))
    (root, dir, (1 to 3).map(p => p -> entries.find(_.endsWith(s"/__gp=$p")).get).toMap)
  }

  private def parquetFiles(entryDir: String): Seq[String] =
    new java.io.File(entryDir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(n => s"$entryDir/$n")

  /** Runs `df` (one long column) and returns its values, sorted, and
    * the files its scan read. */
  private def run(df: DataFrame): (Seq[Long], Long) = {
    val ks = df.collect().map(_.getLong(0)).sorted.toSeq
    (ks, df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.metrics("numFiles").value
    }.sum)
  }

  private def view(root: String, name: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name USING `graft-snapshot` " +
      s"OPTIONS (path '$root')"): Unit

  test("a SQL range query scans only the intersecting entry") {
    FaultFs.using(spark) {
      val (root, _, entries) = table()
      view(root, "scan_sql_range")
      val (ks, files) = run(spark.sql("SELECT k FROM scan_sql_range WHERE k BETWEEN 12 AND 15"))
      assert(ks === (12L to 15L))
      assert(files === parquetFiles(entries(2)).size.toLong,
        s"only the k=11-20 entry may be scanned: $files files")
    }
  }

  test("a filtered stream batch opens only the intersecting entry's files") {
    FaultFs.using(spark) {
      val (root, _, entries) = table()
      val df = spark.readStream.format("graft-snapshot").option("path", root).load()
        .filter(col("k") >= 12L && col("k") <= 15L)
      // the schema read above opened every footer; count the batch alone
      FaultFs.reset()
      val q = df.writeStream.format("memory").queryName("scan_stream_range").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table("scan_stream_range").select("k").collect().map(_.getLong(0))
        .sorted.toSeq === (12L to 15L))
      val opened = entries.map { case (p, d) => p -> parquetFiles(d).map(FaultFs.opens).sum }
      assert(opened(1) === 0 && opened(3) === 0 && opened(2) > 0,
        s"file opens per entry: $opened")
    }
  }

  test("creating the SQL relation lists each entry dir once") {
    FaultFs.using(spark) {
      val (root, _, entries) = table()
      FaultFs.reset()
      spark.read.format("graft-snapshot").option("path", root).load()
      assert(entries.values.toSeq.map(FaultFs.listings) === Seq(1, 1, 1))
    }
  }

  test("a legacy marker without stats plans every entry") {
    FaultFs.using(spark) {
      val (root, dir, entries) = table()
      val m1 = Paths.get(s"$dir/tbl/_commits/1")
      Files.write(m1, new String(Files.readAllBytes(m1), "UTF-8")
        .replaceFirst(""""stats":"[^"]*",""", "").getBytes("UTF-8"))
      view(root, "scan_sql_legacy")
      val (ks, files) = run(spark.sql("SELECT k FROM scan_sql_legacy WHERE k BETWEEN 12 AND 15"))
      assert(ks === (12L to 15L))
      assert(files === entries.values.map(parquetFiles(_).size).sum.toLong)
    }
  }

  test("a floating bound on a long column and a NaN bound prune nothing") {
    FaultFs.using(spark) {
      val (root, _, entries) = table()
      val all = entries.values.map(parquetFiles(_).size).sum.toLong
      view(root, "scan_sql_noprune")
      // the engine compares k double-widened: the column is a cast
      val (byFloat, floatFiles) =
        run(spark.sql("SELECT k FROM scan_sql_noprune WHERE k >= 10.5D AND k <= 12.5D"))
      assert(byFloat === Seq(11L, 12L) && floatFiles === all)
      // NaN sorts above every double: d <= NaN holds on every row
      val (byNaN, nanFiles) =
        run(spark.sql("SELECT k FROM scan_sql_noprune WHERE d <= CAST('NaN' AS DOUBLE)"))
      assert(byNaN === (1L to 30L) && nanFiles === all)
      // the API decides by the bounds' own types, the same rule
      val range = Snapshots.readRange(spark, root, "k", 10.5, 12.5)
      assert(range.select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(11L, 12L))
      assert(range.inputFiles.length === all)
      val nanRange = Snapshots.readRange(spark, root, "d", 1.0, Double.NaN)
      assert(nanRange.select("k").collect().map(_.getLong(0)).sorted.toSeq === (1L to 30L))
      assert(nanRange.inputFiles.length === all)
    }
  }
}
