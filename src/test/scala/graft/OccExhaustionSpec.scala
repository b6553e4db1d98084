package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.sources.Snapshots
import graft.sources.Snapshots.SnapshotConflictException

/** Every read-modify-write verb retries conflicts through one OCC loop
  * and gives up after a fixed number of attempts. Driven by [[FaultFs]]
  * with its marker creates set to always lose the race: each attempt
  * stages, fails its claim and must clean up after itself. */
class OccExhaustionSpec extends SparkSpec {

  test("every OCC verb gives up after 10 lost claims, leaving only the seed's data") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_conflict_").toString
    def dataDirs(tbl: String): Set[String] =
      new java.io.File(s"$dir/$tbl/data").list().toSet
    FaultFs.using(spark) {
      val plain = s"faultfs:$dir/plain"
      val parted = s"faultfs:$dir/parted"
      Snapshots.commit(spark, plain, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
      Snapshots.commitPartitioned(spark, parted,
        Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 1, "c")).toDF("k", "p", "v"), "p", 0L)
      val seeds = Map("plain" -> dataDirs("plain"), "parted" -> dataDirs("parted"))
      val verbs: Seq[(String, String, () => Any)] = Seq(
        ("commitTransform", "plain", () =>
          Snapshots.commitTransform(spark, plain)(cur => cur.get.filter(col("k") === 1L))),
        ("compact", "plain", () => Snapshots.compact(spark, plain)),
        ("replaceTransform", "parted", () =>
          Snapshots.replaceTransform(spark, parted, "p") { cur =>
            cur.filter(col("p") === 2).withColumn("v", concat(col("v"), lit("!")))
          }),
        ("deleteWhere", "parted", () =>
          Snapshots.deleteWhere(spark, parted, "p", col("k") === 1L)),
        ("mergeTransform", "parted", () =>
          Snapshots.mergeTransform(spark, parted, "p",
            Seq((1L, 1, "A"), (9L, 2, "i")).toDF("k", "p", "v"), Seq("k"))),
        ("compactPartitioned", "parted", () =>
          Snapshots.compactPartitioned(spark, parted, "p")),
        ("txnAppend", "parted", () =>
          Snapshots.txnAppend(spark, parted,
            Seq((4L, 3, "d")).toDF("k", "p", "v"), 0L, partCol = Some("p"))))
      val outcomes = verbs.map { case (name, tbl, verb) =>
        FaultFs.creates.set(0)
        FaultFs.conflicting = true
        val threw =
          try { verb(); false }
          catch { case _: SnapshotConflictException => true }
          finally FaultFs.conflicting = false
        (name, threw, FaultFs.creates.get,
          dataDirs(tbl) == seeds(tbl),
          Snapshots.versions(spark, s"faultfs:$dir/$tbl") == Seq(1L))
      }
      assert(outcomes.filterNot(o => o._2 && o._3 == 10 && o._4 && o._5) === Nil,
        "(verb, threw conflict, marker creates, data/ = seed, log = seed) " +
          "must be (_, true, 10, true, true) for every verb")
    }
  }
}
