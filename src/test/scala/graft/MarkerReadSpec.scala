package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.sources.Snapshots

/** Each commit verb decodes its parent's commit marker exactly once:
  * the marker is immutable, so a second read is pure remote-I/O cost
  * on an object store. Counted with [[FaultFs]], which records every
  * `open`. */
class MarkerReadSpec extends SparkSpec {

  test("every commit verb opens its parent marker exactly once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_count_").toString
    val root = s"faultfs:$dir/tbl"
    def opens(v: Long): Int = FaultFs.opens(s"$dir/tbl/_commits/$v")
    /** Runs one verb and returns how often it opened marker `parent`. */
    def parentReads(parent: Long)(verb: => Any): Int = {
      assert(Snapshots.latest(spark, root) === Some(parent))
      FaultFs.reset()
      verb
      opens(parent)
    }
    FaultFs.using(spark) {
      Snapshots.commitPartitioned(spark, root,
        Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")).toDF("k", "p", "v"),
        "p", 0L)
      val reads = Seq(
        "appendPartitioned" -> parentReads(1L) {
          Snapshots.appendPartitioned(spark, root,
            Seq((4L, 4, "d")).toDF("k", "p", "v"), "p", 1L)
        },
        "replaceTransform" -> parentReads(2L) {
          Snapshots.replaceTransform(spark, root, "p") { cur =>
            cur.filter(col("p") === 2).withColumn("v", concat(col("v"), lit("!")))
          }
        },
        "mergeTransform" -> parentReads(3L) {
          Snapshots.mergeTransform(spark, root, "p",
            Seq((1L, 1, "A"), (9L, 1, "i")).toDF("k", "p", "v"), Seq("k"))
        },
        "compactPartitioned" -> parentReads(4L) {
          Snapshots.compactPartitioned(spark, root, "p")
        },
        "commitDropPartitions" -> parentReads(5L) {
          Snapshots.commitDropPartitions(spark, root, Seq("4"), 5L)
        },
        "txnAppend" -> parentReads(6L) {
          Snapshots.txnAppend(spark, root,
            Seq((5L, 3, "e")).toDF("k", "p", "v"), 7L, partCol = Some("p"))
        },
        // restoring the latest version: the restored marker IS the parent
        "restore" -> parentReads(7L) { Snapshots.restore(spark, root, 7L) },
        "deleteWhere" -> parentReads(8L) {
          Snapshots.deleteWhere(spark, root, "p", col("k") === 5L)
        })
      assert(reads.filter(_._2 != 1) === Nil,
        "each verb must read its parent marker once")
      // restoring an older version reads that version's marker and the
      // parent's, each once
      assert(parentReads(9L) { Snapshots.restore(spark, root, 2L) } === 1 &&
        opens(2L) === 1)
      assert(Snapshots.read(spark, root).orderBy("k")
        .as[(Long, Int, String)].collect().toSeq ===
        Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c"), (4L, 4, "d")))
    }
  }
}
