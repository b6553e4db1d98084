package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{Marker, Snapshots}

/** Commit-log protocol of the snapshot-isolated versioned table
  * (sources/Snapshots.scala): atomic publish, reader isolation,
  * optimistic concurrency with conflict detection, transform-retry
  * linearization under real thread races, and retention. */
class SnapshotSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap_").toString + "/tbl"

  /** The marker's manifest entries, parsed the way the format writes
    * them — ONE test-side parser for every entry-level assert. */
  private def manifestEntries(root: String, v: Long): Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_commits/$v")), "UTF-8")
    txt.split("\"data\":\"")(1).split("\"")(0).split(" ").toSeq
  }

  /** The decoded marker of version `v`. */
  private def marker(root: String, v: Long): Marker =
    Marker.decode(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_commits/$v")), "UTF-8")).get

  test("a 24-file commit records its row count and every column's exact min/max") {
    // the harvest folds the footers of all 24 files into one entry:
    // each column's recorded range spans every file's chunks
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(i => (i.toLong, i % 7, s"v$i", i * 1.5))
      .toDF("k", "p", "v", "x")
      .repartition(24)
    val root = freshRoot()
    Snapshots.commit(spark, root, df, 0L)
    val Seq(e) = marker(root, 1L).entries
    assert(Snapshots.entryFiles(spark, root, e.name).size === 24)
    assert(e.rows === 1000L)
    assert(e.stats.toSeq === Seq(
      "k" -> Marker.Stat('l', "1", "1000"), "p" -> Marker.Stat('l', "0", "6"),
      "v" -> Marker.Stat('s', "v1", "v999"), "x" -> Marker.Stat('d', "1.5", "1500.0")))
  }

  test("a commit opens each staged data file once and no inherited one") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_opens_").toString
    /** Opens since the last reset of each data file under table `tbl`. */
    def dataOpens(tbl: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(s"$dir/$tbl/data"))
      try walk.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.split("/").last.startsWith("."))
        .map(p => p -> FaultFs.opens(p)).toMap
      finally walk.close()
    }
    FaultFs.using(spark) {
      FaultFs.reset()
      Snapshots.commit(spark, s"faultfs:$dir/plain",
        (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(24), 0L)
      val plain = dataOpens("plain")
      assert(plain.size === 24 && plain.values.forall(_ == 1), plain)
      val part = s"faultfs:$dir/part"
      FaultFs.reset()
      Snapshots.commitPartitioned(spark, part,
        (1 to 30).map(i => (i.toLong, i % 3)).toDF("k", "p"), "p", 0L)
      val seeded = dataOpens("part")
      assert(seeded.size === 3 && seeded.values.forall(_ == 1), seeded)
      FaultFs.reset()
      Snapshots.appendPartitioned(spark, part, Seq((31L, 3)).toDF("k", "p"), "p", 1L)
      val appended = dataOpens("part")
      assert(appended.size === 4 && appended.values.sum === 1, appended)
      assert(appended.filter(_._2 == 1).keys.forall(_.contains("/__gp=3/")), appended)
    }
  }

  test("a 0-row schema-carrying entry records its declared columns (ADVICE r20 #1)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    // the widened-empty-append schema-evolution vehicle: 0 rows, but
    // the footer schema carries the new column w — the entry's
    // recorded schema must name (k, v, w)
    Snapshots.appendCommit(spark, root,
      Seq.empty[(Long, String, Option[Long])].toDF("k", "v", "w"), 1L)
    val Seq(_, empty) = marker(root, 2L).entries
    assert(empty.rows === 0L)
    assert(empty.schema.map(_.fieldNames.toSeq) === Some(Seq("k", "v", "w")),
      s"the 0-row entry must record its footer schema's columns: ${empty.schema}")
  }

  test("history survives a dead zero-length claim with a placeholder row (ADVICE r20 #3)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    Snapshots.commit(spark, root, Seq((2L, "b")).toDF("k", "v"), 1L)
    // a writer that died between claiming the marker and writing its
    // content: DESCRIBE HISTORY is the diagnosis tool and must list
    // the live versions plus a recognizable placeholder, not throw
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/_commits/3"))
    val h = Snapshots.history(spark, root)
      .orderBy("version")
      .select("version", "num_entries", "parent")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(h.length === 3, s"history must list the dead claim too: ${h.toSeq}")
    assert(h(2) === ((3L, 0, -1L)),
      s"the dead claim must surface as a parent=-1 placeholder: ${h(2)}")
    assert(h(0)._3 === 0L && h(1)._3 === 1L,
      "live rows must keep their real parents")
  }

  test("commit, latest, time travel, and reader snapshot isolation") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    assert(Snapshots.latest(spark, root).isEmpty)
    val v1 = Snapshots.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), expectedParent = 0L)
    assert(v1 === 1L)
    val v2 = Snapshots.commit(spark, root,
      Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), expectedParent = 1L)
    assert(v2 === 2L)
    assert(Snapshots.versions(spark, root) === Seq(1L, 2L))
    // latest reflects v2
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a2"), (3L, "c")))
    // time travel reflects v1
    assert(Snapshots.readAsOf(spark, root, 1L).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // ISOLATION: a DataFrame resolved at v2 keeps returning v2's rows
    // after a later commit lands — immutable data dirs, no re-resolve
    val pinned = Snapshots.read(spark, root)
    Snapshots.commit(spark, root, Seq((9L, "z")).toDF("k", "v"), 2L)
    assert(pinned.orderBy("k").as[(Long, String)].collect().toSeq
      === Seq((1L, "a2"), (3L, "c")),
      "a resolved snapshot must not observe a later commit")
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((9L, "z")))
  }

  test("write-write conflict: the second commit against a stale parent aborts cleanly") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    // two writers both derive from parent 1
    Snapshots.commit(spark, root, Seq((2L, "b")).toDF("k", "v"), 1L)
    val e = intercept[Snapshots.SnapshotConflictException] {
      Snapshots.commit(spark, root, Seq((3L, "c")).toDF("k", "v"), 1L)
    }
    assert(e.getMessage.contains("version 2"))
    // loser's staged dir was cleaned: data dirs == committed dirs
    val dataDirs = new java.io.File(s"$root/data").listFiles().count(_.isDirectory)
    assert(dataDirs === 2, "conflicted writer must delete its staged dir")
    // winner's state intact
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((2L, "b")))
  }

  test("commitTransform linearizes racing read-modify-write transactions") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((0L, 0L)).toDF("k", "n"), 0L)
    // 4 threads each append their own key and bump every existing n
    // by 1; OCC retry must linearize all 4 on top of one another
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        Snapshots.commitTransform(spark, root) { cur =>
          cur.get.select(col("k"), (col("n") + 1).as("n"))
            .unionByName(Seq((i.toLong, 0L)).toDF("k", "n"))
        }: Unit
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshots.versions(spark, root) === (1L to 5L),
      "4 racing transactions + seed = versions 1..5, no gaps")
    val fin = Snapshots.read(spark, root).as[(Long, Long)].collect().toMap
    assert(fin.keySet === Set(0L, 1L, 2L, 3L, 4L))
    // every row was bumped once per transaction that followed it:
    // total increments = sum over rows of (#txns after its insert)
    assert(fin(0L) === 4L, "seed row must see all 4 increments")
    assert(fin.values.sum === (0 to 4).sum.toLong,
      s"increment totals must linearize, got $fin")
  }

  test("expire retires old versions and sweeps aged orphans, keeping live reads intact") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    (1 to 4).foreach { i =>
      Snapshots.commit(spark, root, Seq((i.toLong, i.toLong)).toDF("k", "n"),
        expectedParent = i - 1L)
    }
    // plant a crashed-writer orphan (staged, never committed)
    val orphan = s"$root/data/orphan-test"
    Seq((99L, 99L)).toDF("k", "n").write.parquet(orphan)
    val dead = Snapshots.expire(spark, root, keepLast = 2, orphanGraceMs = 0L)
    assert(dead === Seq(1L, 2L))
    assert(Snapshots.versions(spark, root) === Seq(3L, 4L))
    assert(!new java.io.File(orphan).exists(), "aged orphan must be swept")
    intercept[NoSuchElementException] {
      Snapshots.readAsOf(spark, root, 1L)
    }
    assert(Snapshots.readAsOf(spark, root, 3L).as[(Long, Long)]
      .collect().toSeq === Seq((3L, 3L)))
    assert(Snapshots.read(spark, root).as[(Long, Long)]
      .collect().toSeq === Seq((4L, 4L)))
    // a fresh (un-aged) staging dir survives the sweep
    val staging = s"$root/data/in-flight"
    Seq((7L, 7L)).toDF("k", "n").write.parquet(staging)
    Snapshots.expire(spark, root, keepLast = 2)
    assert(new java.io.File(staging).exists(),
      "an in-grace staging dir must never be swept")
  }

  test("appendCommit is additive: manifests share parent dirs, no rewrite, expire honors sharing") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root, Seq((2L, "b")).toDF("k", "v"), 1L)
    Snapshots.appendCommit(spark, root, Seq((3L, "c")).toDF("k", "v"), 2L)
    // three commits wrote exactly three data dirs — appends never
    // rewrote standing data
    assert(new java.io.File(s"$root/data").listFiles().count(_.isDirectory) === 3)
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Snapshots.readAsOf(spark, root, 2L).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // expiring v1/v2 must NOT delete the dirs v3's manifest inherits
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(Snapshots.versions(spark, root) === Seq(3L))
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "dirs shared into the live manifest must survive expire")
    assert(new java.io.File(s"$root/data").listFiles().count(_.isDirectory) === 3)
  }

  test("cdc classifies insert/delete/update between snapshots, null-safely") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root,
      Seq((1L, Some("a"), 10L), (2L, None, 20L), (3L, Some("c"), 30L),
        (4L, Some("d"), 40L)).toDF("k", "v", "n"), 0L)
    Snapshots.commit(spark, root,
      Seq((1L, Some("a"), 10L),          // unchanged -> dropped
        (2L, Some("b2"), 20L),           // null -> value: update
        (4L, None, 40L),                 // value -> null: update
        (5L, Some("e"), 50L)).toDF("k", "v", "n"), 1L) // 3 deleted, 5 inserted
    val out = Snapshots.cdc(spark, root, 1L, 2L, Seq("k"))
      .select(col("change_type"), col("k"), col("old_v"), col("new_v"))
      .as[(String, Long, Option[String], Option[String])]
      .collect().sortBy(_._2).toSeq
    assert(out === Seq(
      ("update", 2L, None, Some("b2")),
      ("delete", 3L, Some("c"), None),
      ("update", 4L, Some("d"), None),
      ("insert", 5L, None, Some("e"))))
  }

  test("schema evolution: an append with a wider schema surfaces nulls on old rows") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root,
      Seq((2L, "b", 99L)).toDF("k", "v", "extra"), 1L)
    val out = Snapshots.read(spark, root).orderBy("k")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(out === Seq((1L, "a", None), (2L, "b", Some(99L))),
      "old rows must surface the evolved column as null")
    // time travel to v1 still sees the ORIGINAL schema
    assert(Snapshots.readAsOf(spark, root, 1L).columns.toSeq === Seq("k", "v"))
  }

  test("compact collapses an append-heavy manifest; expire then drops the small dirs") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    (2 to 4).foreach { i =>
      Snapshots.appendCommit(spark, root,
        Seq((i.toLong, i.toString)).toDF("k", "v"), i - 1L)
    }
    def dirCount() = new java.io.File(s"$root/data").listFiles().count(_.isDirectory)
    assert(dirCount() === 4)
    // a reader resolved BEFORE the compaction keeps its manifest
    val pinned = Snapshots.read(spark, root)
    val v5 = Snapshots.compact(spark, root)
    assert(v5 === 5L)
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(dirCount() === 1, "superseded small dirs die at expire")
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "2"), (3L, "3"), (4L, "4")),
      "compaction must preserve every row")
    // the pinned reader's dirs are gone only because expire ran with
    // zero grace in-test; its guarantee is manifest immutability, and
    // its PLAN still names only the old dirs
    assert(pinned.queryExecution.logical.toString.contains("parquet"))
  }

  test("txnAppend: replayed batch ids are skipped exactly-once-style") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    assert(Snapshots.txnAppend(spark, root, Seq((1L, "a")).toDF("k", "v"), batchId = 0L))
    assert(Snapshots.txnAppend(spark, root, Seq((2L, "b")).toDF("k", "v"), batchId = 1L))
    // failure recovery replays batch 1 — must be a no-op
    assert(!Snapshots.txnAppend(spark, root, Seq((2L, "b")).toDF("k", "v"), batchId = 1L))
    assert(Snapshots.txnAppend(spark, root, Seq((3L, "c")).toDF("k", "v"), batchId = 2L))
    assert(Snapshots.versions(spark, root) === Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the replayed batch must not double-append")
    // an interleaved NON-batch commit (compact, manual transform)
    // must not reset the replay ledger (code-review finding): the
    // ledger is the newest commit CARRYING a batch id
    Snapshots.compact(spark, root)
    assert(!Snapshots.txnAppend(spark, root, Seq((3L, "c")).toDF("k", "v"), batchId = 2L),
      "a replay after compaction must still be detected")
    assert(Snapshots.txnAppend(spark, root, Seq((4L, "d")).toDF("k", "v"), batchId = 3L))
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("commitReplace stages only the affected partitions and reuses untouched dirs byte-identically") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // partition-granular seed over p in {1,2,3}
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c"), (4L, 2, "b2"))
        .toDF("k", "p", "v"), "p", expectedParent = 0L)
    def entries(v: Long): Seq[String] = manifestEntries(root, v)
    val v1Entries = entries(1L)
    assert(v1Entries.size === 3 && v1Entries.forall(_.contains("/__gp=")),
      "the seed manifest must be partition-granular")
    // snapshot of the untouched partitions' physical files (path -> len)
    def filesUnder(rel: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/data/$rel")
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length).toMap
    }
    val untouched = v1Entries.filterNot(_.endsWith("__gp=2"))
    val before = untouched.map(e => e -> filesUnder(e)).toMap
    // COW: replace ONLY partition 2 (k=2 row updated, k=4 row deleted)
    val v2 = Snapshots.commitReplace(spark, root,
      Seq((2L, 2, "B!")).toDF("k", "p", "v"), "p", expectedParent = 1L)
    assert(v2 === 2L)
    val v2Entries = entries(2L)
    // the untouched partitions are the SAME manifest entries (reuse by
    // reference, zero bytes rewritten), only p=2 points at a new dir
    assert(v2Entries.filterNot(_.endsWith("__gp=2")).toSet === untouched.toSet,
      "untouched partitions must be inherited by reference")
    assert(v2Entries.count(_.endsWith("__gp=2")) === 1)
    assert(!v1Entries.filter(_.endsWith("__gp=2")).toSet
      .contains(v2Entries.find(_.endsWith("__gp=2")).get))
    untouched.foreach { e =>
      assert(filesUnder(e) === before(e), s"$e must stay byte-identical")
    }
    // write volume: exactly one NEW uuid dir holding only __gp=2
    assert(new java.io.File(s"$root/data").listFiles().count(_.isDirectory) === 2)
    val newUuid = v2Entries.find(_.endsWith("__gp=2")).get.split("/")(0)
    assert(new java.io.File(s"$root/data/$newUuid").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq === Seq("__gp=2"),
      "the replace commit must stage only the replaced partition")
    // semantics: latest = untouched rows + new p=2 content; v1 intact
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (2L, 2, "B!"), (3L, 3, "c")))
    assert(Snapshots.readAsOf(spark, root, 1L).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c"), (4L, 2, "b2")))
    // expire with the COW history: v2's manifest keeps v1's shared
    // subdirs alive even though their parent uuid dir is "old"
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (2L, 2, "B!"), (3L, 3, "c")),
      "shared partition dirs must survive expire of the parent version")
    // the superseded __gp=2 subdir of the seed IS reclaimed
    val seedUuid = v1Entries.head.split("/")(0)
    assert(!new java.io.File(s"$root/data/$seedUuid/__gp=2").exists(),
      "the replaced partition's old dir must be reclaimed")
  }

  test("replaceTransform: partition-scoped OCC update-in-place dataflow") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, 10L), (2L, 2, 20L), (3L, 2, 30L)).toDF("k", "p", "n"),
      "p", 0L)
    Snapshots.replaceTransform(spark, root, "p") { cur =>
      cur.filter(col("p") === 2).withColumn("n", col("n") * 10)
    }: Unit
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, Int, Long)].collect().toSeq
      === Seq((1L, 1, 10L), (2L, 2, 200L), (3L, 2, 300L)))
  }

  test("deleteWhere restages partly matched partitions, drops emptied ones, keeps NULL-predicate rows") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commitPartitioned(spark, root,
      Seq[(Long, String, java.lang.Long)](
        (1L, "a", 10L), (2L, "a", 20L),
        (3L, "b", 5L), (4L, "b", 50L), (5L, "b", null),
        (6L, "c", 60L)).toDF("k", "p", "v"), "p", 0L)
    val v1Entries = manifestEntries(root, 1L)
    // one call: every row of a matches (a is emptied), k=4 of b
    // matches, k=5's predicate is NULL (kept), c is outside it
    val pred = col("v") >= 10 && col("p") =!= "c"
    assert(Snapshots.deleteWhere(spark, root, "p", pred) === 2L)
    val v2Entries = manifestEntries(root, 2L)
    assert(!v2Entries.exists(_.endsWith("__gp=a")),
      s"the emptied partition must leave the manifest in the same commit: $v2Entries")
    assert(v2Entries.filter(_.endsWith("__gp=c")) === v1Entries.filter(_.endsWith("__gp=c")),
      "an unmatched partition is inherited by reference")
    assert(v2Entries.count(_.endsWith("__gp=b")) === 1 &&
      !v1Entries.contains(v2Entries.find(_.endsWith("__gp=b")).get),
      "the partly matched partition is restaged")
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, String, Option[Long])].collect().toSeq ===
      Seq((3L, "b", Some(5L)), (5L, "b", None), (6L, "c", Some(60L))))
    assert(Snapshots.readAsOf(spark, root, 1L).count() === 6L)
    // a predicate that matches nothing commits nothing
    assert(Snapshots.deleteWhere(spark, root, "p", col("v") > 1000) === 2L)
    assert(Snapshots.versions(spark, root) === Seq(1L, 2L))
    // emptying the NULL partition drops its default-partition entry
    val root2 = freshRoot()
    Snapshots.commitPartitioned(spark, root2,
      Seq[(Long, String)]((1L, null), (2L, "x")).toDF("k", "p"), "p", 0L)
    Snapshots.deleteWhere(spark, root2, "p", col("p").isNull): Unit
    assert(manifestEntries(root2, 2L).map(_.split("/")(1)) === Seq("__gp=x"))
    assert(Snapshots.read(spark, root2).as[(Long, String)].collect().toSeq
      === Seq((2L, "x")))
  }

  test("cdc aligns schema evolution: update rows expose null for the added column (r18 #4)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    // v2 adds a column AND changes row 2, drops nothing
    Snapshots.commit(spark, root,
      Seq((1L, "a", Some(7L)), (2L, "b2", None)).toDF("k", "v", "extra"), 1L)
    val out = Snapshots.cdc(spark, root, 1L, 2L, Seq("k"))
      .select(col("change_type"), col("k"), col("old_v"), col("new_v"),
        col("old_extra"), col("new_extra"))
      .as[(String, Long, Option[String], Option[String], Option[Long], Option[Long])]
      .collect().sortBy(_._2).toSeq
    // row 1: only the evolved column "changed" null->7 => update with
    // old_extra null; row 2: v changed, extra stays null both sides
    assert(out === Seq(
      ("update", 1L, Some("a"), Some("a"), None, Some(7L)),
      ("update", 2L, Some("b"), Some("b2"), None, None)))
  }

  test("cdc matches null keys null-safely (r18 advice)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root,
      Seq((Some(1L), "a"), (None, "nullkey")).toDF("k", "v"), 0L)
    Snapshots.commit(spark, root,
      Seq((Some(1L), "a"), (None, "nullkey")).toDF("k", "v"), 1L)
    assert(Snapshots.cdc(spark, root, 1L, 2L, Seq("k")).count() === 0L,
      "an unchanged null-keyed row must NOT be reported as delete+insert")
    Snapshots.commit(spark, root,
      Seq((Some(1L), "a"), (None, "nullkey2")).toDF("k", "v"), 2L)
    val out = Snapshots.cdc(spark, root, 2L, 3L, Seq("k"))
      .select(col("change_type"), col("k"), col("old_v"), col("new_v"))
      .as[(String, Option[Long], Option[String], Option[String])]
      .collect().toSeq
    assert(out === Seq(("update", None, Some("nullkey"), Some("nullkey2"))),
      "a changed null-keyed row is ONE update, not delete+insert")
  }

  test("cdc prunes to the manifests' symmetric difference (r18 #7)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root, Seq((3L, "c")).toDF("k", "v"), 1L)
    val diff = Snapshots.cdc(spark, root, 1L, 2L, Seq("k"))
    // the append shares v1's dir: CDC must scan ONLY the appended dir
    val v1Dirs = manifestEntries(root, 1L).toSet
    val scanned = diff.inputFiles.toSeq
    assert(scanned.nonEmpty && scanned.forall(f =>
      !v1Dirs.exists(d => f.contains(s"/data/$d/"))),
      s"CDC after an append must not rescan the shared dir: $scanned")
    assert(diff.select(col("change_type"), col("k"), col("new_v"))
      .as[(String, Long, String)].collect().toSeq === Seq(("insert", 3L, "c")))
  }

  test("exactly-once ledger survives compact + aggressive expire (r18 advice)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    assert(Snapshots.txnAppend(spark, root, Seq((1L, "a")).toDF("k", "v"), batchId = 0L))
    assert(Snapshots.txnAppend(spark, root, Seq((2L, "b")).toDF("k", "v"), batchId = 1L))
    // maintenance: compact (a NON-batch commit) then retire EVERY
    // batch-carrying marker — the ledger must ride the survivor
    Snapshots.compact(spark, root)
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(Snapshots.versions(spark, root) === Seq(3L))
    assert(!Snapshots.txnAppend(spark, root, Seq((2L, "b")).toDF("k", "v"), batchId = 1L),
      "a replay after compact+expire(keepLast=1) must still be detected")
    assert(Snapshots.txnAppend(spark, root, Seq((3L, "c")).toDF("k", "v"), batchId = 2L))
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("readers tolerate an in-flight marker; a dead claim is a named error (r18 advice)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    // simulate a claimed-but-content-pending marker for version 2
    val marker = java.nio.file.Paths.get(s"$root/_commits/2")
    java.nio.file.Files.write(marker, Array.empty[Byte])
    // a racing writer completes the content shortly after the reader
    // starts resolving — the reader must wait it out, not crash
    val dataDirs = new java.io.File(s"$root/data").listFiles()
      .filter(_.isDirectory).map(_.getName)
    val filler = new Thread(() => {
      Thread.sleep(300)
      java.nio.file.Files.write(marker,
        s"""{"data":"${dataDirs.head}","parent":1,"lb":"-1"}""".getBytes("UTF-8"))
    })
    filler.start()
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((1L, "a")), "the reader must wait out an in-flight marker")
    filler.join()
    // a marker whose writer died never completes: bounded retries end
    // in a NAMED error, not a NoSuchElementException from a .get
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/_commits/3"),
      Array.empty[Byte])
    val e = intercept[IllegalStateException] { Snapshots.read(spark, root) }
    assert(e.getMessage.contains("_commits/3"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_commits/3"))
  }

  test("SQL surface: USING graft-snapshot time-travels, pins, and plans a native FileScan (r18 #3)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    Snapshots.commit(spark, root, Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), 1L)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW snap_sql_v1 USING `graft-snapshot` " +
      s"OPTIONS (path '$root', versionAsOf '1')")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW snap_sql_cur USING `graft-snapshot` " +
      s"OPTIONS (path '$root')")
    // time travel from pure SQL text
    assert(spark.sql("SELECT k, v FROM snap_sql_v1 ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    assert(spark.sql("SELECT k, v FROM snap_sql_cur ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a2"), (3L, "c")))
    // snapshot isolation carries over: the view resolved its manifest
    // at creation and must not observe a later commit
    Snapshots.commit(spark, root, Seq((9L, "z")).toDF("k", "v"), 2L)
    assert(spark.sql("SELECT k, v FROM snap_sql_cur ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a2"), (3L, "c")),
      "a resolved SQL view must keep answering from its pinned version")
    // the plan is the NATIVE parquet scan — codegen'd, pruned, pushed
    val plan = spark.sql("SELECT k FROM snap_sql_cur WHERE k > 1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"),
      s"expected a native parquet FileScan, got:\n$plan")
    assert(plan.contains("GreaterThan(k,1)"),
      s"the filter must reach PushedFilters:\n$plan")
    assert(plan.contains("struct<k:bigint>"),
      s"ReadSchema must prune to the selected column:\n$plan")
    spark.sql("DROP VIEW snap_sql_v1")
    spark.sql("DROP VIEW snap_sql_cur")
  }

  test("streaming source tails the commit log: per-commit batches, append-only contract") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root).load()
      .writeStream.format("memory").queryName("snap_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_tail").as[(Long, String)].collect().toSet
        === Set((1L, "a"), (2L, "b")), "first batch = the full starting snapshot")
      // an exactly-once append lands while the stream runs: the next
      // batch must carry ONLY the appended rows (no re-read of
      // standing entries — the memory sink would show duplicates)
      Snapshots.txnAppend(spark, root, Seq((3L, "c")).toDF("k", "v"), batchId = 0L)
      q.processAllAvailable()
      assert(spark.table("snap_tail").as[(Long, String)].collect().toSet
        === Set((1L, "a"), (2L, "b"), (3L, "c")))
      assert(spark.table("snap_tail").count() === 3L,
        "standing entries must never be re-emitted")
      // a compact rewrites standing entries — not representable as an
      // append stream: the NEXT batch must fail with the named error
      Snapshots.compact(spark, root)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000): Unit
      }
      assert(e.getCause.getMessage.contains("append-only"),
        s"expected the append-only contract error, got: ${e.getCause}")
    } finally q.stop()
  }

  test("maxVersionsPerTrigger drains a backlog as bounded per-version batches (r19 #1)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // a 4-commit backlog: 2 + 1 + 3 + 1 rows, built BEFORE the stream
    // starts — the genesis-start case that would otherwise arrive as
    // ONE table-sized batch
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root, Seq((3L, "c")).toDF("k", "v"), 1L)
    Snapshots.appendCommit(spark, root,
      Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("k", "v"), 2L)
    Snapshots.appendCommit(spark, root, Seq((7L, "g")).toDF("k", "v"), 3L)
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root).option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, b.count()): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(got === Seq(2L, 1L, 3L, 1L),
      s"max=1 must yield one micro-batch per commit, in order: $got")
  }

  test("maxRowsPerTrigger bounds batches by marker row counts, whole commits only (r20)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // 2 + 1 + 3 + 1 rows over four commits; cap at 3 rows per trigger
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root, Seq((3L, "c")).toDF("k", "v"), 1L)
    Snapshots.appendCommit(spark, root,
      Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("k", "v"), 2L)
    Snapshots.appendCommit(spark, root, Seq((7L, "g")).toDF("k", "v"), 3L)
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root).option("maxRowsPerTrigger", "3").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, b.count()): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    // v1 (2) + v2 (1) reach the 3-row cap together; v3 (3) alone
    // reaches it; v4 (1) drains — whole commits, never split
    assert(got === Seq(3L, 3L, 1L),
      s"row-capped batches must cut at whole-commit boundaries: $got")
  }

  test("maxVersionsPerTrigger caps from the checkpointed offset after a restart, no replay") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_snap_rl_ckpt_").toString
    val out = Files.createTempDirectory("graft_snap_rl_out_").toString
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    def stream() = spark.readStream.format("graft-snapshot")
      .option("path", root).option("maxVersionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }.start()
    val q1 = stream()
    try q1.processAllAvailable() finally q1.stop()
    // a 2-version backlog accrues while the stream is DOWN; the
    // restart must window from the CHECKPOINTED version (not genesis)
    // and drain the backlog without replaying version 1
    Snapshots.txnAppend(spark, root, Seq((2L, "b")).toDF("k", "v"), batchId = 0L)
    Snapshots.txnAppend(spark, root, Seq((3L, "c")).toDF("k", "v"), batchId = 1L)
    val q2 = stream()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(spark.read.parquet(out).count() === 3L,
      "a capped restart must neither replay nor skip versions")
  }

  test("streaming source restart resumes from the checkpointed version offset, no replay") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_snap_ckpt_").toString
    val out = Files.createTempDirectory("graft_snap_out_").toString
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    // memory sinks cannot recover a checkpoint; a foreachBatch parquet
    // appender is the durable-sink shape (stream_snapshot_sink's twin)
    def stream() = spark.readStream.format("graft-snapshot")
      .option("path", root).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }.start()
    val q1 = stream()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() === 2L)
    // appends land while the stream is DOWN; the restart deserializes
    // the version offset from the checkpoint (SerializedOffset path)
    // and must deliver ONLY the missed commits — never a replay
    Snapshots.txnAppend(spark, root, Seq((3L, "c")).toDF("k", "v"), batchId = 0L)
    Snapshots.txnAppend(spark, root, Seq((4L, "d")).toDF("k", "v"), batchId = 1L)
    val q2 = stream()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(spark.read.parquet(out).count() === 4L,
      "a checkpoint restart must not replay delivered versions")
  }

  test("SQL surface: a CATALOG table (CREATE TABLE ... USING graft-snapshot) reads the snapshot") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    spark.sql("DROP TABLE IF EXISTS graft_snap_ddl")
    // the persistent-DDL seat, not just a temp view: the table lives
    // in the catalog, its OPTIONS carry the root, and reads resolve
    // the latest manifest at relation-creation time
    spark.sql("CREATE TABLE graft_snap_ddl USING `graft-snapshot` " +
      s"OPTIONS (path '$root')")
    try {
      assert(spark.sql("SELECT k, v FROM graft_snap_ddl ORDER BY k")
        .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
      // a catalog table re-resolves per query (no pinned manifest —
      // the temp-view test covers pinning): a new commit is visible
      Snapshots.commit(spark, root, Seq((3L, "c")).toDF("k", "v"), 1L)
      spark.catalog.refreshTable("graft_snap_ddl")
      assert(spark.sql("SELECT k, v FROM graft_snap_ddl ORDER BY k")
        .as[(Long, String)].collect().toSeq === Seq((3L, "c")),
        "after refresh, the catalog table must serve the new latest")
    } finally spark.sql("DROP TABLE graft_snap_ddl")
  }

  test("commits fail fast on schemes without atomic create-exclusive (r18 #5)") {
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl",
      classOf[MockSchemeFs].getName)
    val root = s"mock:${Files.createTempDirectory("graft_snap_mock_")}/tbl"
    val df = Seq((1L, "a")).toDF("k", "v")
    val e = intercept[UnsupportedOperationException] {
      Snapshots.commit(spark, root, df, 0L)
    }
    assert(e.getMessage.contains("'mock'") &&
      e.getMessage.contains("atomicCreateSchemes"),
      s"the error must name the scheme and the opt-in conf: ${e.getMessage}")
    // deployment opt-in: the conf admits the scheme and the commit runs
    spark.conf.set("spark.graft.snapshot.atomicCreateSchemes", "mock")
    try {
      Snapshots.commit(spark, root, df, 0L)
      assert(Snapshots.read(spark, root).as[(Long, String)]
        .collect().toSeq === Seq((1L, "a")))
    } finally spark.conf.unset("spark.graft.snapshot.atomicCreateSchemes")
  }

  test("protocol model test: random replace/drop/compact/expire/restore/append/merge/empty-batch keep reads, time travel, and cdc consistent") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260815L)
    // model: key -> (partition, value); every snapshot version's model
    // state is kept for time-travel and cdc cross-checks
    var model = Map.empty[Long, (Int, Long)]
    var nextKey = 0L
    def freshKey(): Long = { val k = nextKey; nextKey += 1; k }
    def df(rows: Map[Long, (Int, Long)]) =
      rows.toSeq.map { case (k, (p, v)) => (k, p, v) }.toDF("k", "p", "v")
    def readBack(): Map[Long, (Int, Long)] =
      Snapshots.read(spark, root).as[(Long, Int, Long)].collect()
        .map { case (k, p, v) => k -> (p, v) }.toMap
    model = (0 until 8).map(_ => freshKey() -> (rnd.nextInt(3), rnd.nextLong(100))).toMap
    var version = Snapshots.commitPartitioned(spark, root, df(model), "p", 0L)
    var history = Map(version -> model)
    var nextBatch = 0L
    (1 to 24).foreach { _ =>
      rnd.nextInt(9) match {
        case 0 | 1 => // COW rewrite of one partition: bump, drop one key, add one
          val p = rnd.nextInt(4) // may be a partition with no standing rows
          val cur = model.filter(_._2._1 == p)
          val dropped = cur.keySet.take(if (cur.size > 1 && rnd.nextBoolean()) 1 else 0)
          val next = (cur -- dropped).map { case (k, (pp, v)) => k -> (pp, v + 1) } +
            (freshKey() -> (p, rnd.nextLong(100)))
          version = Snapshots.commitReplace(spark, root, df(next), "p", version)
          model = model.filter(_._2._1 != p) ++ next
        case 2 => // partition-granularity-preserving OPTIMIZE (r19 #2)
          version = Snapshots.compactPartitioned(spark, root, "p")
        case 3 => // metadata-only partition drop (only if another survives)
          val parts = model.values.map(_._1).toSet
          if (parts.size > 1) {
            val p = parts.toSeq.sorted.apply(rnd.nextInt(parts.size))
            version = Snapshots.commitDropPartitions(spark, root,
              Seq(p.toString), version)
            model = model.filter(_._2._1 != p)
          }
        case 4 => // retention, then time-travel a surviving version
          Snapshots.expire(spark, root, keepLast = 1 + rnd.nextInt(3),
            orphanGraceMs = 0L)
          val live = Snapshots.versions(spark, root).toSet
          history = history.filter { case (v, _) => live.contains(v) }
          val (tv, expected) = history.toSeq.minBy(_._1)
          assert(Snapshots.readAsOf(spark, root, tv)
            .as[(Long, Int, Long)].collect()
            .map { case (k, p, v) => k -> (p, v) }.toMap === expected,
            s"time travel to $tv must replay its exact state")
        case 5 => // metadata-only rollback to a random live version
          val targets = history.keySet.toSeq.sorted
          val tv = targets(rnd.nextInt(targets.size))
          version = Snapshots.restore(spark, root, tv)
          model = history(tv)
        case 6 => // granularity-preserving append (r20): new keys only
          val added = (0 until 1 + rnd.nextInt(3))
            .map(_ => freshKey() -> (rnd.nextInt(4), rnd.nextLong(100))).toMap
          version = Snapshots.appendPartitioned(spark, root, df(added), "p",
            version)
          model = model ++ added
        case 7 => // partition-scoped MERGE (r20): update one standing
          // key in place (partition stable) + insert one fresh key
          val upd = if (model.nonEmpty) {
            val (k, (p, v)) = model.toSeq.minBy(_._1)
            Map(k -> (p, v + 1000))
          } else Map.empty[Long, (Int, Long)]
          val ins = Map(freshKey() -> (rnd.nextInt(4), rnd.nextLong(100)))
          val source = upd ++ ins
          version = Snapshots.mergeTransform(spark, root, "p", df(source),
            Seq("k"))
          model = model ++ source
        case 8 => // empty streaming micro-batch (r20): a METADATA-ONLY
          // commit — entries inherited unchanged, version + ledger
          // advance, the model state is untouched
          nextBatch += 1
          assert(Snapshots.txnAppend(spark, root,
            df(Map.empty[Long, (Int, Long)]), nextBatch, partCol = Some("p")))
          version = Snapshots.latest(spark, root).get
      }
      history += version -> model
      assert(readBack() === model, s"latest read must equal the model at v$version")
      val vs = Snapshots.versions(spark, root)
      assert(vs === (vs.head to vs.last), "versions must stay contiguous")
    }
    // final cross-check: cdc between the two live extremes equals the
    // model diff, class by class
    if (history.size >= 2) {
      val vA = history.keySet.min
      val vB = history.keySet.max
      val a = history(vA)
      val b = history(vB)
      val expected =
        b.keySet.diff(a.keySet).map(k => ("insert", k)) ++
          a.keySet.diff(b.keySet).map(k => ("delete", k)) ++
          a.keySet.intersect(b.keySet).filter(k => a(k) != b(k))
            .map(k => ("update", k))
      val got = Snapshots.cdc(spark, root, vA, vB, Seq("k"))
        .select(col("change_type"), col("k"))
        .as[(String, Long)].collect().toSet
      assert(got === expected, s"cdc($vA,$vB) must equal the model diff")
    }
  }

  test("review hardening: empty partitioned commits, batch reservation, alsoDrop, escaped drops, expired offsets") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // an empty partitioned commit stages no dirs — rejecting it keeps
    // the manifest from ever resolving to the data ROOT
    intercept[IllegalArgumentException] {
      Snapshots.commitPartitioned(spark, root,
        Seq.empty[(Long, Int, String)].toDF("k", "p", "v"), "p", 0L)
    }
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")).toDF("k", "p", "v"), "p", 0L)
    // a DELETE that empties partition 2 rides in alsoDrop — the same
    // atomic commit replaces 1 and removes 2 entirely
    val v2 = Snapshots.commitReplace(spark, root,
      Seq((1L, 1, "A!")).toDF("k", "p", "v"), "p", 1L, alsoDrop = Seq("2"))
    assert(Snapshots.readAsOf(spark, root, v2).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "A!"), (3L, 3, "c")),
      "alsoDrop must remove the emptied partition in the same commit")
    // escaped partition values: 'a:b' stages as __gp=a%3Ab — the drop
    // must match the RAW value the caller knows
    val root2 = freshRoot()
    Snapshots.commitPartitioned(spark, root2,
      Seq((1L, "a:b", 10L), (2L, "plain", 20L)).toDF("k", "p", "n"), "p", 0L)
    val v2b = Snapshots.commitDropPartitions(spark, root2, Seq("a:b"), 1L)
    assert(Snapshots.readAsOf(spark, root2, v2b).as[(Long, String, Long)]
      .collect().toSeq === Seq((2L, "plain", 20L)),
      "an escaped partition value must be droppable by its raw form")
    // a stream whose checkpointed offset was expired gets the NAMED
    // retention error, not a bare missing-version crash
    val root3 = freshRoot()
    Snapshots.commit(spark, root3, Seq((1L, "a")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root3, Seq((2L, "b")).toDF("k", "v"), 1L)
    Snapshots.appendCommit(spark, root3, Seq((3L, "c")).toDF("k", "v"), 2L)
    Snapshots.expire(spark, root3, keepLast = 1, orphanGraceMs = 0L)
    val e = intercept[IllegalStateException] {
      Snapshots.addedDirsBetween(spark, root3, 1L, 3L)
    }
    assert(e.getMessage.contains("retention window"),
      s"the error must name the retention problem: ${e.getMessage}")
  }

  test("cdc-driven incremental aggregate is bit-identical to the full v2 rebuild") {
    val inc = SparkEntry.queries("agg_snapshot_incremental")(spark, sf).collect().toSeq
    // the key staged its history under its own ioDir root — rebuild
    // the aggregate from scratch over the latest snapshot
    val root = s"${sys.props("java.io.tmpdir")}/graft_io/${Q.pathKey(sf)}/agg_snapshot_incremental/tbl"
    val full = Snapshots.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("price").cast(org.apache.spark.sql.types.DecimalType(22, 4)))
          .cast("double").as("total"))
      .select(col("o_orderstatus"), col("n"), col("total"))
      .orderBy(col("o_orderstatus"))
      .collect().toSeq
    assert(inc === full,
      "applying cdc deltas must reproduce the from-scratch aggregate exactly")
  }

  test("restore rolls back metadata-only; history describes the log") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "good")).toDF("k", "v"), 0L)
    Snapshots.commit(spark, root, Seq((1L, "BAD"), (2L, "BAD")).toDF("k", "v"), 1L)
    def dirCount() = new java.io.File(s"$root/data").listFiles().count(_.isDirectory)
    val before = dirCount()
    val v3 = Snapshots.restore(spark, root, 1L)
    assert(v3 === 3L)
    assert(dirCount() === before, "restore must stage NO data — metadata only")
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((1L, "good")), "latest must be the restored state")
    // history preserved: the bad version stays time-travel readable
    assert(Snapshots.readAsOf(spark, root, 2L).count() === 2L)
    // expire with the restore live: v1's dir is shared into v3's
    // manifest and must survive; v2's bad dir is reclaimed
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((1L, "good")))
    assert(dirCount() === before - 1, "only the bad version's dir is reclaimed")
    // the audit log: one row per live version, entries/rows/parent/
    // ledger — the restore carried v1's recorded count metadata-only
    val h = Snapshots.history(spark, root)
      .as[(Long, Int, Option[Long], Long, Long, Option[Long])].collect().toSeq
    assert(h === Seq((3L, 1, Some(1L), 2L, -1L, None)),
      s"history must describe the surviving restore commit: $h")
    // a batch commit surfaces its id and the folded ledger
    Snapshots.txnAppend(spark, root, Seq((5L, "e")).toDF("k", "v"), batchId = 7L)
    val h2 = Snapshots.history(spark, root)
      .as[(Long, Int, Option[Long], Long, Long, Option[Long])]
      .collect().toSeq.sortBy(_._1)
    assert(h2.last === ((4L, 2, Some(2L), 3L, 7L, Some(7L))))
  }

  test("compactPartitioned collapses COW sprawl, keeps granularity; plain compact refuses (r19 #2)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def entries(v: Long): Seq[String] = manifestEntries(root, v)
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")).toDF("k", "p", "v"), "p", 0L)
    // two COW replaces accumulate dirs from three staged uuids
    Snapshots.commitReplace(spark, root,
      Seq((1L, 1, "a2")).toDF("k", "p", "v"), "p", 1L)
    Snapshots.commitReplace(spark, root,
      Seq((2L, 2, "b2")).toDF("k", "p", "v"), "p", 2L)
    assert(entries(3L).map(_.split("/")(0)).distinct.size === 3,
      "precondition: the COW history spans three staged uuids")
    // plain compact must refuse rather than destroy the UPDATE path
    val e = intercept[IllegalArgumentException] { Snapshots.compact(spark, root) }
    assert(e.getMessage.contains("compactPartitioned"), e.getMessage)
    val v4 = Snapshots.compactPartitioned(spark, root, "p")
    val after = entries(v4)
    assert(after.map(_.split("/")(0)).distinct.size === 1,
      s"compactPartitioned must collapse to ONE staged uuid: $after")
    assert(after.forall(_.contains("/__gp=")) && after.size === 3,
      s"granularity must survive, one entry per partition: $after")
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, Int, String)]
      .collect().toSeq === Seq((1L, 1, "a2"), (2L, 2, "b2"), (3L, 3, "c")))
    // the point of it all: copy-on-write still composes AFTER compact
    Snapshots.replaceTransform(spark, root, "p") { cur =>
      cur.filter(col("p") === 3).withColumn("v", lit("c3"))
    }: Unit
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, Int, String)]
      .collect().toSeq === Seq((1L, 1, "a2"), (2L, 2, "b2"), (3L, 3, "c3")),
      "replaceTransform must keep working after a partitioned OPTIMIZE")
    // and expire reclaims the pre-compact sprawl
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(Snapshots.read(spark, root).count() === 3L)
    // a Hive-escaped partition value ('a:b' stages as __gp=a%3Ab)
    // spread over two entries collapses to one, its rows intact
    val esc = freshRoot()
    Snapshots.commitPartitioned(spark, esc,
      Seq((1L, "a:b"), (2L, "plain")).toDF("k", "p"), "p", 0L)
    Snapshots.appendPartitioned(spark, esc, Seq((3L, "a:b")).toDF("k", "p"), "p", 1L)
    val escAfter = manifestEntries(esc, Snapshots.compactPartitioned(spark, esc, "p"))
    assert(escAfter.map(_.split("/")(1)).sorted === Seq("__gp=a%3Ab", "__gp=plain") &&
      escAfter.map(_.split("/")(0)).distinct.size === 1,
      s"the escaped partition must collapse to one entry: $escAfter")
    assert(Snapshots.read(spark, esc).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a:b"), (2L, "plain"), (3L, "a:b")))
  }

  test("commitTransform refuses a partition-granular table, staging and committing nothing") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("k", "p", "v"), "p", 0L)
    def dataDirs() = new java.io.File(s"$root/data").list().toSet
    val before = dataDirs()
    // a whole-dir rewrite would downgrade the manifest and break the
    // copy-on-write verbs that follow
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitTransform(spark, root)(cur => cur.get.filter(col("k") === 1L))
    }
    assert(e.getMessage.contains("compactPartitioned"), e.getMessage)
    assert(Snapshots.versions(spark, root) === Seq(1L), "no new commit")
    assert(dataDirs() === before, "no staged dir left behind")
    // the table stays copy-on-write capable
    Snapshots.deleteWhere(spark, root, "p", col("k") === 2L): Unit
    assert(Snapshots.read(spark, root).as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a")))
  }

  test("restore raced against expire never publishes a manifest naming deleted dirs (r19 #3)") {
    val s = spark
    import s.implicits._
    (1 to 5).foreach { round =>
      val root = freshRoot()
      Snapshots.commit(spark, root, Seq((1L, s"good$round")).toDF("k", "v"), 0L)
      Snapshots.commit(spark, root, Seq((2L, "bad")).toDF("k", "v"), 1L)
      Snapshots.commit(spark, root, Seq((3L, "bad")).toDF("k", "v"), 2L)
      // v1 is dead at keepLast=1; the restore re-references its
      // entries while the expire retires it — dead dirs now get the
      // orphan grace window, so whichever order wins, a published
      // manifest must resolve
      val restored = new java.util.concurrent.atomic.AtomicBoolean(false)
      val tR = new Thread(() => {
        try { Snapshots.restore(spark, root, 1L); restored.set(true) }
        catch { case _: NoSuchElementException => () } // marker already gone
      })
      val tE = new Thread(() =>
        Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 60000L): Unit)
      tR.start(); tE.start(); tR.join(); tE.join()
      if (restored.get) {
        assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
          === Seq((1L, s"good$round")),
          s"round $round: a successful restore must resolve its data")
        // a follow-up sweep inside the grace window must keep the
        // now-live-again dirs
        Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 60000L)
        assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
          === Seq((1L, s"good$round")))
      } else {
        assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
          === Seq((3L, "bad")),
          s"round $round: a lost restore must leave the latest intact")
      }
    }
  }

  test("dead-version dirs age through the grace window, then reclaim (r19 #3)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    Snapshots.commit(spark, root, Seq((2L, "b")).toDF("k", "v"), 1L)
    def dirCount() = new java.io.File(s"$root/data").listFiles().count(_.isDirectory)
    assert(dirCount() === 2)
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 150L)
    assert(Snapshots.versions(spark, root) === Seq(2L))
    assert(dirCount() === 2,
      "inside the grace window the dead dir must survive (a racing restore may still re-publish it)")
    Thread.sleep(200)
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 150L)
    assert(dirCount() === 1, "past the grace window the dead dir is reclaimed")
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((2L, "b")))
  }

  test("expire reclaims an aged zero-length marker, restoring availability (r19 advice)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    // a writer died between claim and content: version 2 is a
    // permanently empty marker — every read and commit now fails
    val marker = java.nio.file.Paths.get(s"$root/_commits/2")
    java.nio.file.Files.write(marker, Array.empty[Byte])
    assert(java.nio.file.Files.getFileStore(marker) != null) // exists
    intercept[IllegalStateException] { Snapshots.read(spark, root) }
    // a FRESH empty marker is an in-flight commit — expire must NOT
    // touch it (grace window), and at keepLast=1 the retention window
    // must be computed over READABLE versions only: retiring v1
    // because the unreadable v2 sits above it would destroy the only
    // resolvable state (review finding)
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 60000L)
    assert(java.nio.file.Files.exists(marker),
      "an in-grace claim must never be reclaimed")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/_commits/1")),
      "the last READABLE version must never fall below the cutoff " +
        "because of an unreadable claim above it")
    // age it past the window: now provably dead — reclaimed, and the
    // table answers again without manual surgery
    marker.toFile.setLastModified(System.currentTimeMillis() - 120000L): Unit
    Snapshots.expire(spark, root, keepLast = 5, orphanGraceMs = 60000L)
    assert(!java.nio.file.Files.exists(marker), "the dead claim is reclaimed")
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((1L, "a")))
    // and the freed number is safely re-claimable
    Snapshots.appendCommit(spark, root, Seq((2L, "b")).toDF("k", "v"), 1L)
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("mergeTransform upserts by key, staging only the touched partitions (r19 #5)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def entries(v: Long): Seq[String] = manifestEntries(root, v)
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 2, "c"), (4L, 3, "d"))
        .toDF("k", "p", "v"), "p", 0L)
    // the source touches ONLY partition 2: one update (k=2), one insert (k=9)
    val source = Seq((2L, 2, "B!"), (9L, 2, "ins")).toDF("k", "p", "v")
    val v2 = Snapshots.mergeTransform(spark, root, "p", source, Seq("k"))
    assert(Snapshots.readAsOf(spark, root, v2).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (2L, 2, "B!"), (3L, 2, "c"), (4L, 3, "d"), (9L, 2, "ins")),
      "matched takes the source row, unmatched inserts, standing rows pass")
    // partition scoping: partitions 1 and 3 are INHERITED by reference
    val (e1, e2) = (entries(1L), entries(v2))
    assert(e2.filter(e => e.endsWith("__gp=1") || e.endsWith("__gp=3")).toSet
      === e1.filter(e => e.endsWith("__gp=1") || e.endsWith("__gp=3")).toSet,
      s"untouched partitions must keep v1's exact entries: $e1 vs $e2")
    assert(e2.find(_.endsWith("__gp=2")).get !== e1.find(_.endsWith("__gp=2")).get,
      "the touched partition must be a freshly staged entry")
    // the touched-partition filter must reach the snapshot scan as a
    // pushed In(...) — at 100 TB the rewrite's read side skips
    // untouched partitions' row groups from the stats alone
    val scanPlan = Snapshots.read(spark, root)
      .filter(col("p").isInCollection(Seq(2)))
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("EqualTo(p,2)") || scanPlan.contains("In(p, [2"),
      s"the membership predicate must reach PushedFilters (Catalyst " +
        s"rewrites a 1-element IN to EqualTo):\n$scanPlan")
    // the past-the-gate fallback (distributed semi-join membership)
    // must produce the identical state
    val v3 = Snapshots.mergeTransform(spark, root, "p",
      Seq((9L, 2, "INS2")).toDF("k", "p", "v"), Seq("k"), partGate = 0)
    assert(Snapshots.readAsOf(spark, root, v3).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (2L, 2, "B!"), (3L, 2, "c"), (4L, 3, "d"), (9L, 2, "INS2")))
  }

  test("commit markers carry per-entry row counts; history reports num_rows (r19 #6)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def numRows(): Seq[(Long, Option[Long])] =
      Snapshots.history(spark, root).select(col("version"), col("num_rows"))
        .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    // seed: 4 rows across 3 partitions — counted once from footers
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 2, "c"), (4L, 3, "d"))
        .toDF("k", "p", "v"), "p", 0L)
    assert(numRows() === Seq((1L, Some(4L))))
    // COW replace of partition 2 (2 rows → 3): inherited entries copy
    // their counts forward, only the staged partition re-counts
    Snapshots.commitReplace(spark, root,
      Seq((2L, 2, "B"), (3L, 2, "C"), (9L, 2, "ins")).toDF("k", "p", "v"),
      "p", 1L)
    assert(numRows() === Seq((1L, Some(4L)), (2L, Some(5L))))
    // a metadata-only drop subtracts the dropped entry's count with
    // zero I/O
    Snapshots.commitDropPartitions(spark, root, Seq("3"), 2L)
    assert(numRows().last === ((3L, Some(4L))))
    // a LEGACY marker (no rows field) must surface null, not a lie —
    // and commits on top of it record unknown for inherited entries
    val m3 = java.nio.file.Paths.get(s"$root/_commits/3")
    val stripped = new String(java.nio.file.Files.readAllBytes(m3), "UTF-8")
      .replaceFirst(""""rows":"[^"]*",""", "")
    java.nio.file.Files.write(m3, stripped.getBytes("UTF-8"))
    assert(numRows().last === ((3L, None)))
    Snapshots.commitReplace(spark, root,
      Seq((1L, 1, "A"), (7L, 1, "e")).toDF("k", "p", "v"), "p", 3L)
    assert(numRows().last === ((4L, None)),
      "inheriting from a legacy marker must stay honest (unknown)")
    // a full partitioned rewrite re-counts everything and recovers
    Snapshots.compactPartitioned(spark, root, "p")
    assert(numRows().last === ((5L, Some(5L))))
  }

  test("appends compose with copy-on-write: appendPartitioned keeps granularity (r20)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def entries(v: Long): Seq[String] = manifestEntries(root, v)
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("k", "p", "v"), "p", 0L)
    // a plain whole-dir append would downgrade the manifest — refused
    val e = intercept[IllegalArgumentException] {
      Snapshots.appendCommit(spark, root, Seq((3L, 2, "c")).toDF("k", "p", "v"), 1L)
    }
    assert(e.getMessage.contains("appendPartitioned"), e.getMessage)
    // the granular append stages per-partition entries alongside the
    // standing ones
    val v2 = Snapshots.appendPartitioned(spark, root,
      Seq((3L, 2, "c"), (4L, 3, "d")).toDF("k", "p", "v"), "p", 1L)
    assert(Snapshots.readAsOf(spark, root, v2).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 2, "c"), (4L, 3, "d")))
    assert(entries(v2).count(_.endsWith("__gp=2")) === 2,
      "standing and appended entries for the same partition coexist")
    // and copy-on-write STILL WORKS: replacing p=2 must retire BOTH
    // of its entries (they match by subdir name) and keep the rest
    val v3 = Snapshots.commitReplace(spark, root,
      Seq((9L, 2, "Z")).toDF("k", "p", "v"), "p", v2)
    assert(Snapshots.readAsOf(spark, root, v3).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "a"), (4L, 3, "d"), (9L, 2, "Z")))
    assert(entries(v3).count(_.endsWith("__gp=2")) === 1)
    // exactly-once streaming ingest into the SAME cow table — the
    // feature-store loop: txnAppend with partCol, replay detected
    assert(Snapshots.txnAppend(spark, root,
      Seq((10L, 1, "s")).toDF("k", "p", "v"), batchId = 0L,
      partCol = Some("p")))
    assert(!Snapshots.txnAppend(spark, root,
      Seq((10L, 1, "s")).toDF("k", "p", "v"), batchId = 0L,
      partCol = Some("p")), "a replayed batch must be skipped")
    assert(Snapshots.read(spark, root).count() === 4L)
    Snapshots.replaceTransform(spark, root, "p") { cur =>
      cur.filter(col("p") === 1).withColumn("v", lit("up"))
    }: Unit
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, Int, String)].collect().toSeq
      === Seq((1L, 1, "up"), (4L, 3, "d"), (9L, 2, "Z"), (10L, 1, "up")),
      "ingest + copy-on-write must keep composing on one table")
  }

  test("review hardening r20: empty genesis partitioned append; merge null partition; unlimited cap") {
    val s = spark
    import s.implicits._
    // an empty FIRST partitioned batch must not claim an empty
    // manifest (which readers would resolve to the raw data/ root)
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      Snapshots.appendPartitioned(spark, root,
        Seq.empty[(Long, Int, String)].toDF("k", "p", "v"), "p", 0L)
    }
    assert(Snapshots.versions(spark, root).isEmpty)
    // ...and an empty LATER batch-API append is rejected too (it can
    // neither add rows nor carry schema through the partitioned
    // staging); only STREAMING empty batches are special-cased
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a")).toDF("k", "p", "v"), "p", 0L)
    intercept[IllegalArgumentException] {
      Snapshots.appendPartitioned(spark, root,
        Seq.empty[(Long, Int, String)].toDF("k", "p", "v"), "p", 1L)
    }
    assert(Snapshots.read(spark, root).count() === 1L)
    // merge with a null-partition source row must pull the STANDING
    // null-partition rows into the rewrite (null-safe membership),
    // not silently drop them
    val root2 = freshRoot()
    Snapshots.commitPartitioned(spark, root2,
      Seq[(Long, Option[Int], String)]((1L, Some(1), "a"), (2L, None, "b"),
        (3L, None, "c")).toDF("k", "p", "v"), "p", 0L)
    Snapshots.mergeTransform(spark, root2, "p",
      Seq[(Long, Option[Int], String)]((2L, None, "B!"), (9L, None, "ins"))
        .toDF("k", "p", "v"),
      Seq("k")): Unit
    assert(Snapshots.read(spark, root2).orderBy("k")
      .as[(Long, Option[Int], String)].collect().toSeq
      === Seq((1L, Some(1), "a"), (2L, None, "B!"), (3L, None, "c"),
        (9L, None, "ins")),
      "standing null-partition rows must survive a null-partition merge")
    // the conventional 'unlimited' Long.MaxValue cap must not
    // overflow into a negative offset
    val root3 = freshRoot()
    Snapshots.commit(spark, root3, Seq((1L, "a")).toDF("k", "v"), 0L)
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root3)
      .option("maxVersionsPerTrigger", Long.MaxValue.toString).load()
      .writeStream.format("memory").queryName("g_cap_max")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("g_cap_max").count() === 1L)
    } finally q.stop()
  }

  test("add-column evolution composes with partitioned appends and copy-on-write (r20)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("k", "p", "v"), "p", 0L)
    // a WIDER granular append: old rows must surface the new column
    // as null (the mergeSchema evolution semantics, now through the
    // per-partition staging path)
    Snapshots.appendPartitioned(spark, root,
      Seq((3L, 2, "c", 30L)).toDF("k", "p", "v", "w"), "p", 1L)
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, Int, String, Option[Long])].collect().toSeq
      === Seq((1L, 1, "a", None), (2L, 2, "b", None), (3L, 2, "c", Some(30L))))
    // a COW replace THROUGH the evolution boundary: the transform
    // sees the union schema, rewrites one partition carrying the new
    // column, untouched partitions keep their narrow files
    Snapshots.replaceTransform(spark, root, "p") { cur =>
      cur.filter(col("p") === 2)
        .withColumn("w", coalesce(col("w"), lit(-1L)))
    }: Unit
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, Int, String, Option[Long])].collect().toSeq
      === Seq((1L, 1, "a", None), (2L, 2, "b", Some(-1L)),
        (3L, 2, "c", Some(30L))),
      "a replace through an add-column boundary must keep old narrow " +
        "partitions readable (null-filled) alongside the widened one")
    // and cdc across the whole history classifies, never throws
    val changes = Snapshots.cdc(spark, root, 1L, 3L, Seq("k"))
      .select(col("change_type"), col("k")).as[(String, Long)].collect().toSet
    assert(changes === Set(("insert", 3L), ("update", 2L)))
  }

  test("cdc keeps columns that live only in shared entries (r19 advice: stable output schema)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // v1 carries (k, v, w); the v2 append touches only (k, v) — w
    // lives SOLELY in the shared (unchanged) entry, so the pruned
    // reads alone would drop old_w/new_w from the output entirely
    Snapshots.commit(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w"), 0L)
    Snapshots.appendCommit(spark, root,
      Seq((3L, "c")).toDF("k", "v"), 1L)
    val diff = Snapshots.cdc(spark, root, 1L, 2L, Seq("k"))
    assert(diff.columns.contains("old_w") && diff.columns.contains("new_w"),
      s"a column in shared entries must stay in the cdc schema: " +
        diff.columns.mkString(","))
    assert(diff.select(col("change_type"), col("k"), col("new_v"), col("new_w"))
      .as[(String, Long, String, Option[Long])].collect().toSeq
      === Seq(("insert", 3L, "c", None)))
    // and the pruning still holds: the shared v1 dir is never scanned
    val v1Dirs = manifestEntries(root, 1L).toSet
    assert(diff.inputFiles.toSeq.forall(f =>
      !v1Dirs.exists(d => f.contains(s"/data/$d/"))),
      "schema stability must not cost the manifest pruning")
  }

  test("commitReplace rejects a partition named in both df and alsoDrop (r19 advice)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("k", "p", "v"), "p", 0L)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitReplace(spark, root,
        Seq((9L, 2, "z")).toDF("k", "p", "v"), "p", 1L, alsoDrop = Seq("2"))
    }
    assert(e.getMessage.contains("contradictory"), e.getMessage)
    assert(Snapshots.versions(spark, root) === Seq(1L),
      "the contradictory commit must leave the log untouched")
  }

  test("history reads both r20 (quoted parent) and legacy (bare parent) markers with one parser") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root, Seq((2L, "b")).toDF("k", "v"), 1L)
    // rewrite marker 1 into the PRE-r20 format: parent as a bare
    // number, the one field metaField could not read
    val m1 = java.nio.file.Paths.get(s"$root/_commits/1")
    val legacy = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .replace(""""parent":"0"""", """"parent":0""")
    assert(legacy.contains(""""parent":0"""), s"rewrite must hit: $legacy")
    java.nio.file.Files.write(m1, legacy.getBytes("UTF-8"))
    val h = Snapshots.history(spark, root)
      .select(col("version"), col("parent"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(h === Seq((1L, 0L), (2L, 1L)),
      s"legacy and current markers must parse identically: $h")
    // and reads over the mixed-format log stay intact
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("txnAppend: an empty FIRST micro-batch is a replay-safe no-op, not a crash loop (r20 review)") {
    val s = spark
    import s.implicits._
    // a streaming sink's first executed micro-batch can legitimately
    // carry zero rows; crashing (the pre-fix behavior) would loop
    // forever on checkpoint replay. The no-op claims NO marker, so a
    // replay of the same empty batch re-skips identically.
    val root = freshRoot()
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    assert(Snapshots.txnAppend(spark, root, empty, 0L))
    assert(Snapshots.versions(spark, root).isEmpty,
      "an empty snapshot is not representable — nothing must be claimed")
    assert(Snapshots.txnAppend(spark, root, empty, 0L),
      "a checkpoint replay of the skipped empty batch must re-skip cleanly")
    assert(Snapshots.versions(spark, root).isEmpty)
    // the next real batch seeds the table normally...
    assert(Snapshots.txnAppend(spark, root, Seq((1L, "a")).toDF("k", "v"), 1L))
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSeq
      === Seq((1L, "a")))
    // ...and from then on the folded ledger handles replays as usual
    assert(!Snapshots.txnAppend(spark, root, Seq((9L, "dup")).toDF("k", "v"), 0L))
    assert(!Snapshots.txnAppend(spark, root, Seq((9L, "dup")).toDF("k", "v"), 1L))
    // the PARTITIONED streaming flavor no-ops the same way
    val root2 = freshRoot()
    val emptyP = Seq.empty[(Long, Int, String)].toDF("k", "p", "v")
    assert(Snapshots.txnAppend(spark, root2, emptyP, 0L, partCol = Some("p")))
    assert(Snapshots.versions(spark, root2).isEmpty)
    // but the NON-streaming plain append at genesis still fails loudly
    // (no checkpoint replay exists to make a silent no-op safe there)
    intercept[IllegalArgumentException] {
      Snapshots.appendCommit(spark, freshRoot(), empty, 0L)
    }
  }

  test("mergeTransform: empty source is a no-op; null keys match null-safely (r20 review)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // seed with a NULL-KEYED standing row — the upsert's key equality
    // must be <=> like cdc's, or a null-keyed source row inserts a
    // duplicate instead of updating (breaking cdc's per-snapshot
    // key-uniqueness premise downstream)
    Snapshots.commitPartitioned(spark, root,
      Seq[(Option[Long], Int, String)]((None, 1, "a"), (Some(2L), 1, "b"),
        (Some(3L), 2, "c")).toDF("k", "p", "v"), "p", 0L)
    // an empty micro-batch upserts nothing: no-op returning the
    // CURRENT latest, no new version, not the commitReplace empty-df
    // error
    val v = Snapshots.mergeTransform(spark, root, "p",
      Seq.empty[(Option[Long], Int, String)].toDF("k", "p", "v"), Seq("k"))
    assert(v === 1L && Snapshots.versions(spark, root) === Seq(1L),
      "an empty merge source must be a version-preserving no-op")
    // a null-keyed source row UPDATES the standing null-keyed row
    Snapshots.mergeTransform(spark, root, "p",
      Seq[(Option[Long], Int, String)]((None, 1, "A!")).toDF("k", "p", "v"),
      Seq("k")): Unit
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Option[Long], Int, String)].collect().toSeq
      === Seq((None, 1, "A!"), (Some(2L), 1, "b"), (Some(3L), 2, "c")),
      "a null-keyed upsert must replace, not duplicate, the null-keyed row")
  }

  test("a dead __gp= subdir inside a partially-live uuid gets the full grace window (r20 review)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // seed uuid A carries __gp=1 and __gp=2; the COW replace of p=1
    // stages uuid B/__gp=1, so after expire A is PARTIALLY live:
    // A/__gp=2 referenced, A/__gp=1 dead
    Snapshots.commitPartitioned(spark, root,
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("k", "p", "v"), "p", 0L)
    Snapshots.commitReplace(spark, root,
      Seq((1L, 1, "A!")).toDF("k", "p", "v"), "p", 1L)
    val aGp1 = s"$root/data/" +
      manifestEntries(root, 1L).find(_.endsWith(s"/__gp=1")).get
    // age the subdir's STAGING mtime far past the grace window: the
    // restamp-at-marker-death is what must protect it, not staging
    // recency (pre-fix, only the top-level uuid dir was restamped and
    // the subdir sweep would reclaim this immediately — racing a
    // restore that may still re-publish v1's entries)
    assert(new java.io.File(aGp1).setLastModified(
      System.currentTimeMillis() - 600000L))
    Snapshots.expire(spark, root, keepLast = 1, orphanGraceMs = 60000L)
    assert(Snapshots.versions(spark, root) === Seq(2L))
    assert(new java.io.File(aGp1).isDirectory,
      "a just-retired subdir must get the FULL grace window from its " +
        "marker's death, regardless of how old its staging mtime is")
    // once genuinely aged past the window it is reclaimed — WITHOUT
    // touching the live sibling partition in the same uuid dir
    assert(new java.io.File(aGp1).setLastModified(
      System.currentTimeMillis() - 120000L))
    Snapshots.expire(spark, root, keepLast = 5, orphanGraceMs = 60000L)
    assert(!new java.io.File(aGp1).exists,
      "past the grace window the dead subdir is reclaimed")
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, Int, String)]
      .collect().toSeq === Seq((1L, 1, "A!"), (2L, 2, "b")),
      "the partially-live uuid's LIVE partition must survive the subdir sweep")
  }

  test("markers carry per-entry column min/max; readRange prunes to intersecting entries (r20)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // k ranges are disjoint per partition (1-10 / 11-20 / 21-30), v
    // strings likewise (a../b../c..), d doubles carry nulls — three
    // stat kinds, one entry each
    val base = (1 to 30).map { i =>
      val p = (i - 1) / 10 + 1
      (i.toLong, p, f"${('a' + p - 1).toChar}%c$i%02d",
        if (i % 7 == 0) None else Some(i * 1.5))
    }
    Snapshots.commitPartitioned(spark, root,
      base.toDF("k", "p", "v", "d"), "p", 0L)
    def statsField(v: Long): Seq[String] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/_commits/$v")), "UTF-8")
      txt.split("\"stats\":\"")(1).split("\"")(0).split(" ").toSeq
    }
    val toks = statsField(1L)
    assert(toks.size === 3 && toks.forall(t => t.contains("k=l:") &&
      t.contains("v=s:") && t.contains("d=d:")),
      s"each entry must record long, string, and double ranges: $toks")
    // long-kind pruning: [12,15] lives only in the p=2 entry
    val byK = Snapshots.readRange(spark, root, "k", 12L, 15L)
    assert(byK.select("k").as[Long].collect().sorted.toSeq
      === Seq(12L, 13L, 14L, 15L))
    val gp2 = manifestEntries(root, 1L).find(_.endsWith("/__gp=2")).get
    assert(byK.inputFiles.nonEmpty &&
      byK.inputFiles.forall(_.contains(s"/data/$gp2/")),
      s"the scan must plan ONLY the intersecting entry: ${byK.inputFiles.toSeq}")
    // string-kind pruning (inclusive bounds, real filter on top)
    val byV = Snapshots.readRange(spark, root, "v", "c21", "c25")
    assert(byV.select("k").as[Long].collect().sorted.toSeq
      === (21L to 25L))
    val gp3 = manifestEntries(root, 1L).find(_.endsWith("/__gp=3")).get
    assert(byV.inputFiles.forall(_.contains(s"/data/$gp3/")))
    // double-kind pruning through null-bearing chunks
    val byD = Snapshots.readRange(spark, root, "d", 1.0, 10.0)
    assert(byD.select("k").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 5L, 6L), // k=7 is null — a range never matches null
      "null cells must neither match the range nor poison the entry's bounds")
    assert(byD.inputFiles.forall(_.contains(s"/data/${gp2.split("/")(0)}/__gp=1/")))
    // a COW replace: the fresh entry records NEW bounds, inherited
    // entries copy theirs forward by marker reference (zero re-reads)
    Snapshots.replaceTransform(spark, root, "p") { cur =>
      cur.filter(col("p") === 2).withColumn("k", col("k") + 100L)
    }: Unit
    val toks2 = statsField(2L)
    assert(toks2.size === 3 && toks2.exists(_.contains("k=l:111:120")),
      s"the rewritten partition must record its new k range: $toks2")
    assert(Snapshots.readRange(spark, root, "k", 111L, 120L)
      .count() === 10L)
    assert(Snapshots.readRange(spark, root, "k", 12L, 15L).count() === 0L,
      "the old range is gone from the new snapshot")
    // time travel still prunes against v1's OWN stats
    assert(Snapshots.readRange(spark, root, "k", 12L, 15L, asOf = 1L)
      .count() === 4L)
    // restore carries the ranges forward metadata-only
    Snapshots.restore(spark, root, 1L)
    assert(statsField(3L).toSet === statsField(1L).toSet,
      "restore must inherit the source version's recorded ranges")
    // a legacy marker without the stats field reads everything —
    // pruning degrades to a plain filtered read, never a wrong answer
    val m3 = java.nio.file.Paths.get(s"$root/_commits/3")
    val legacy = new String(java.nio.file.Files.readAllBytes(m3), "UTF-8")
      .replaceFirst(""""stats":"[^"]*",""", "")
    java.nio.file.Files.write(m3, legacy.getBytes("UTF-8"))
    val noStats = Snapshots.readRange(spark, root, "k", 12L, 15L)
    assert(noStats.select("k").as[Long].collect().sorted.toSeq
      === Seq(12L, 13L, 14L, 15L))
    assert(noStats.inputFiles.exists(!_.contains(s"/data/$gp2/")),
      "without recorded ranges every entry must be planned (conservative)")
  }

  test("stats hardening: capped columns drop whole, infinity/float predicates no-prune, asOf strict (r20 review)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{when => sqlWhen}
    // 17 eligible columns over the 16-slot cap, TWO files in one
    // staged dir (range-partitioned so file order is deterministic),
    // and c5 NaN-poisoned ONLY in the second file: c5's drop frees a
    // slot mid-pass — the capped-out 17th column must NOT slip in
    // with bounds from the remaining chunks only (a partial range is
    // not a bound)
    val wide0 = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("c1", "c5raw")
    val wide = (2 to 4).concat(6 to 16).foldLeft(
      wide0.withColumn("c5",
        sqlWhen(col("c1") === 99L, lit(Double.NaN)).otherwise(col("c5raw")))
        .drop("c5raw")) { (d, i) => d.withColumn(s"c$i", col("c1") + i) }
      .withColumn("k17", col("c1") * 1000L)
      .select(("c1" +: (2 to 16).map(i => s"c$i") :+ "k17").map(col): _*)
      .repartitionByRange(2, col("c1"))
    Snapshots.commit(spark, root, wide, 0L)
    val tok = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/_commits/1")), "UTF-8")
      txt.split("\"stats\":\"")(1).split("\"")(0)
    }
    assert(!tok.contains("c5="), s"the NaN-poisoned column records nothing: $tok")
    assert(!tok.contains("k17="),
      s"a capped-out column must never record partial bounds: $tok")
    assert(tok.contains("c1=l:1:100"), s"surviving columns keep true bounds: $tok")
    // the unrecorded column reads everything, correctly
    assert(Snapshots.readRange(spark, root, "k17", 50000L, 52000L)
      .select("c1").as[Long].collect().sorted.toSeq === (50L to 52L))
    // an open-ended infinite bound must degrade to no-prune, not crash
    assert(Snapshots.readRange(spark, root, "c5",
      Double.NegativeInfinity, 3.0).count() === 3L)
    // a FLOATING predicate on an integral column disables pruning
    // (the real filter compares double-widened — stats must not be
    // more precise than the engine) but stays correct
    val byFloat = Snapshots.readRange(spark, root, "c1", 10.5, 12.5)
    assert(byFloat.select("c1").as[Long].collect().sorted.toSeq
      === Seq(11L, 12L))
    // asOf 0 (the genesis-parent value) is an error, not 'latest'
    intercept[IllegalArgumentException] {
      Snapshots.readRange(spark, root, "c1", 1L, 2L, asOf = 0L)
    }
  }

  test("empty appends: batch API keeps the schema entry, streaming is metadata-only; unlimited cap safe (r20 review)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    // a deliberate BATCH-API empty append keeps its 0-row entry: that
    // is how a caller pre-declares an added column via mergeSchema
    // (the widened-empty-append pattern must not silently lose w)
    val v2 = Snapshots.appendCommit(spark, root,
      Seq.empty[(Long, String, Option[Long])].toDF("k", "v", "w"), 1L)
    assert(v2 === 2L &&
      manifestEntries(root, 2L).size === manifestEntries(root, 1L).size + 1,
      "a batch-API empty append keeps its schema-carrying entry")
    assert(Snapshots.read(spark, root).columns.toSeq === Seq("k", "v", "w"),
      "the widened empty append must pre-declare the new column")
    // a STREAMING empty batch carries no information (the stream's
    // schema is constant): metadata-only commit, entries unchanged,
    // and the batch id still lands in the ledger so a replay SKIPS
    assert(Snapshots.txnAppend(spark, root, empty, 7L))
    assert(manifestEntries(root, 3L) === manifestEntries(root, 2L),
      "an empty streaming batch must not append a junk 0-row entry")
    assert(!Snapshots.txnAppend(spark, root, empty, 7L),
      "a replayed empty batch must skip via the ledger, not re-commit")
    assert(Snapshots.read(spark, root).select("k", "v")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // the partitioned STREAMING flavor inherits unchanged too
    val root2 = freshRoot()
    Snapshots.commitPartitioned(spark, root2,
      Seq((1L, 1, "a")).toDF("k", "p", "v"), "p", 0L)
    assert(Snapshots.txnAppend(spark, root2,
      Seq.empty[(Long, Int, String)].toDF("k", "p", "v"), 1L,
      partCol = Some("p")))
    assert(manifestEntries(root2, 2L) === manifestEntries(root2, 1L))
    // Long.MaxValue as maxRowsPerTrigger (the 'unlimited' convention)
    // must not overflow when a marker predates per-entry row counts
    // (unknown count = oversized sentinel): the unknown commit is
    // delivered ALONE, never glued onto a batch that already has rows
    val root3 = freshRoot()
    Snapshots.commit(spark, root3, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    Snapshots.appendCommit(spark, root3, Seq((3L, "c")).toDF("k", "v"), 1L)
    Snapshots.appendCommit(spark, root3, Seq((4L, "d")).toDF("k", "v"), 2L)
    val m2 = java.nio.file.Paths.get(s"$root3/_commits/2")
    val legacy = new String(java.nio.file.Files.readAllBytes(m2), "UTF-8")
      .replaceFirst(""""rows":"[^"]*",""", "")
    java.nio.file.Files.write(m2, legacy.getBytes("UTF-8"))
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = spark.readStream.format("graft-snapshot")
      .option("path", root3)
      .option("maxRowsPerTrigger", Long.MaxValue.toString).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, b.count()): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(got === Seq(2L, 1L, 1L),
      s"the unknown-count commit must close its batch and ride alone: $got")
  }

  test("readRange keeps the full snapshot schema when pruning crosses an evolution boundary (r20 review)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commitPartitioned(spark, root,
      (1 to 10).map(i => (i.toLong, 1, s"v$i")).toDF("k", "p", "v"), "p", 0L)
    // the appended partition carries a NEW column w
    Snapshots.appendPartitioned(spark, root,
      (11 to 20).map(i => (i.toLong, 2, s"v$i", i * 10L))
        .toDF("k", "p", "v", "w"), "p", 1L)
    // the range prunes the ONLY entry holding w — the column must
    // surface null-typed, not disappear (cdc's schema-stability rule)
    val low = Snapshots.readRange(spark, root, "k", 1L, 5L)
    assert(low.columns.toSeq === Seq("k", "p", "v", "w"),
      s"pruned reads must keep the union schema: ${low.columns.toSeq}")
    assert(low.count() === 5L && low.filter(col("w").isNotNull).count() === 0L)
    assert(low.inputFiles.forall(_.contains("/__gp=1/")),
      "schema stability must not cost the entry pruning")
    // the other side of the boundary reads w's real values
    val highW = Snapshots.readRange(spark, root, "k", 11L, 12L)
      .select("w").as[Long].collect().sorted.toSeq
    assert(highW === Seq(110L, 120L))
    // RANGE-FILTERING on the evolved column itself, with its only
    // entry pruned, must resolve against the null-filled seat and
    // return the schema-stable EMPTY result — not crash analysis
    // (review finding: alignment must precede the filter)
    val wOut = Snapshots.readRange(spark, root, "w", 1000L, 2000L)
    assert(wOut.columns.toSeq === Seq("k", "p", "v", "w") &&
      wOut.count() === 0L,
      "a range on a column living only in pruned entries is empty, not an error")
    // markers record per-entry schemas (zero-I/O boundary test): the
    // appended entry's names w, and every entry's names k
    val names = marker(root, 2L).entries.map(_.schema.map(_.fieldNames.toSeq))
    assert(names.exists(_.exists(_.contains("w"))),
      s"the appended entry's schema must name w: $names")
    assert(names.forall(_.exists(_.contains("k"))),
      s"every entry's schema must name k: $names")
    // a LEGACY marker without the schema fields infers the schema from
    // the footers — same answers, just not zero-I/O
    val m2 = java.nio.file.Paths.get(s"$root/_commits/2")
    java.nio.file.Files.write(m2, new String(java.nio.file.Files.readAllBytes(m2), "UTF-8")
      .replaceFirst(""""schemas":"[^"]*","schema":"[^"]*",""", "").getBytes("UTF-8"))
    assert(marker(root, 2L).entries.forall(_.schema.isEmpty))
    val lowLegacy = Snapshots.readRange(spark, root, "k", 1L, 5L)
    assert(lowLegacy.columns.toSeq === Seq("k", "p", "v", "w") &&
      lowLegacy.count() === 5L)
  }

  test("an entry inherited from a pre-cols marker forces the schema probe (r20 review)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    // seed carries w; simulate a writer from before per-entry columns
    // were recorded by stripping the schema fields from its marker —
    // the table's history now spans their introduction
    Snapshots.commitPartitioned(spark, root,
      (1 to 10).map(i => (i.toLong, 1, s"v$i", i * 10L))
        .toDF("k", "p", "v", "w"), "p", 0L)
    val m1 = java.nio.file.Paths.get(s"$root/_commits/1")
    val legacy = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .replaceFirst(""""schemas":"[^"]*","schema":"[^"]*",""", "")
    java.nio.file.Files.write(m1, legacy.getBytes("UTF-8"))
    // the NEW writer appends a narrower entry: its marker records the
    // staged entry's schema but must keep the inherited one UNKNOWN
    Snapshots.appendPartitioned(spark, root,
      (11 to 20).map(i => (i.toLong, 2, s"v$i")).toDF("k", "p", "v"), "p", 1L)
    assert(marker(root, 2L).entries.map(_.schema.isDefined) === Seq(false, true),
      "an entry inherited from a pre-schema parent must stay unknown, not " +
        "claim the staged entry's columns")
    // pruning away the (unknown-schema) w-bearing entry must still
    // surface w null-typed — the unknown schema forces footer inference
    val hi = Snapshots.readRange(spark, root, "k", 11L, 15L)
    assert(hi.columns.toSeq === Seq("k", "p", "v", "w") && hi.count() === 5L,
      s"unknown-schema entries must force alignment: ${hi.columns.toSeq}")
    assert(hi.filter(col("w").isNotNull).count() === 0L)
  }

  test("legacy caller extraMeta named batch cannot poison the ledger walk (r20 review)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    // simulate a pre-reservation marker: no own lb, caller extras
    // carrying a "batch" key among them — the fallback walk must not
    // promote it into the exactly-once ledger
    val m1 = java.nio.file.Paths.get(s"$root/_commits/1")
    val legacy = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .replaceFirst(""","lb":"-1"""", ""","note":"x","batch":"999"""")
    java.nio.file.Files.write(m1, legacy.getBytes("UTF-8"))
    assert(Snapshots.txnAppend(spark, root, Seq((2L, "b")).toDF("k", "v"), 5L),
      "a real batch id below the bogus extras value must still commit")
    assert(Snapshots.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // and a replay of the REAL batch id still skips
    assert(!Snapshots.txnAppend(spark, root, Seq((9L, "x")).toDF("k", "v"), 5L))
  }

  test("guards: keepLast>=1, no commits ahead of latest") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    Snapshots.commit(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L)
    intercept[IllegalArgumentException] {
      Snapshots.expire(spark, root, keepLast = 0)
    }
    intercept[IllegalArgumentException] { // parent ahead of latest = gap
      Snapshots.commit(spark, root, Seq((2L, "b")).toDF("k", "v"), 5L)
    }
    assert(Snapshots.versions(spark, root) === Seq(1L),
      "every rejected commit must leave the log untouched")
  }

  test("one staged-dir lifecycle: every exit leaves exactly the dirs committed manifests name") {
    val s = spark
    import s.implicits._
    val (gen, plain, parted) = (freshRoot(), freshRoot(), freshRoot())
    Snapshots.commit(spark, plain, Seq((1L, "a")).toDF("k", "v"), 0L)
    Snapshots.commitPartitioned(spark, parted,
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("k", "p", "v"), "p", 0L)
    def uuidDirs(tbl: String): Set[String] =
      Option(new java.io.File(s"$tbl/data").list()).map(_.toSet).getOrElse(Set.empty)
    def named(tbl: String): Set[String] = Snapshots.versions(spark, tbl)
      .flatMap(manifestEntries(tbl, _)).map(_.split("/")(0)).toSet
    def latest(tbl: String): Long = Snapshots.latest(spark, tbl).getOrElse(0L)
    val emptyPlain = Seq.empty[(Long, String)].toDF("k", "v")
    val emptyParted = Seq.empty[(Long, Int, String)].toDF("k", "p", "v")
    // a staging write whose tasks fail: over a range, not a local
    // relation, so the optimizer cannot raise the error while planning
    def boom(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("v", when(col("k") >= 0L, raise_error(lit("boom"))).otherwise(col("v")))
    def rangeOf(k: Long) = spark.range(k, k + 1).select(col("id").as("k"),
      col("id").cast("int").as("p"), lit("c").as("v"))
    // with AQE on, the partitioned stager's shuffle stage runs, and
    // fails, before the write job creates the dir; with AQE off the
    // same failure lands inside the write job
    def noAqe(verb: () => Any): () => Any = () => {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try verb() finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
    val appendBoom = () => Snapshots.appendPartitioned(spark, parted, boom(rangeOf(3L)), "p",
      latest(parted))
    val replaceBoom = () => Snapshots.replaceTransform(spark, parted, "p")(boom)
    val refused = classOf[IllegalArgumentException]
    val conflict = classOf[Snapshots.SnapshotConflictException]
    val anyFailure = classOf[Throwable]
    // (exit, table, verb, the exception it must throw — None = it returns)
    val exits: Seq[(String, String, () => Any, Option[Class[_]])] = Seq(
      ("empty commitPartitioned", gen, () =>
        Snapshots.commitPartitioned(spark, gen, emptyParted, "p", 0L), Some(refused)),
      ("empty batch-API partitioned append", parted, () =>
        Snapshots.appendPartitioned(spark, parted, emptyParted, "p", latest(parted)),
        Some(refused)),
      ("empty plain append at genesis", gen, () =>
        Snapshots.appendCommit(spark, gen, emptyPlain, 0L), Some(refused)),
      ("empty commitReplace without alsoDrop", parted, () =>
        Snapshots.commitReplace(spark, parted, emptyParted, "p", latest(parted)),
        Some(refused)),
      ("partition both in df and alsoDrop", parted, () =>
        Snapshots.commitReplace(spark, parted, Seq((1L, 1, "x")).toDF("k", "p", "v"), "p",
          latest(parted), alsoDrop = Seq("1")), Some(refused)),
      ("replace emptying the manifest", parted, () =>
        Snapshots.commitReplace(spark, parted, emptyParted, "p", latest(parted),
          alsoDrop = Seq("1", "2")), Some(refused)),
      ("manifest-unsafe partition value", gen, () =>
        Snapshots.commitPartitioned(spark, gen, Seq((1L, "a b")).toDF("k", "p"), "p", 0L),
        Some(refused)),
      ("write-write conflict", plain, () =>
        Snapshots.commit(spark, plain, Seq((2L, "b")).toDF("k", "v"), latest(plain) - 1L),
        Some(conflict)),
      ("failed write through commit", plain, () =>
        Snapshots.commit(spark, plain, boom(rangeOf(3L).drop("p")), latest(plain)),
        Some(anyFailure)),
      ("failed write through appendPartitioned", parted, appendBoom, Some(anyFailure)),
      ("failed write through appendPartitioned, AQE off", parted, noAqe(appendBoom),
        Some(anyFailure)),
      ("failed write through replaceTransform", parted, replaceBoom, Some(anyFailure)),
      ("failed write through replaceTransform, AQE off", parted, noAqe(replaceBoom),
        Some(anyFailure)),
      ("empty streaming txnAppend at genesis", gen, () =>
        Snapshots.txnAppend(spark, gen, emptyPlain, 0L), None),
      ("empty streaming txnAppend on a plain table", plain, () =>
        Snapshots.txnAppend(spark, plain, emptyPlain, 0L), None),
      ("empty streaming txnAppend on a partitioned table", parted, () =>
        Snapshots.txnAppend(spark, parted, emptyParted, 0L, partCol = Some("p")), None))
    // one committed version before the conflict, so its parent is stale
    Snapshots.commit(spark, plain, Seq((2L, "b")).toDF("k", "v"), 1L)
    val wrong = exits.flatMap { case (exit, tbl, verb, expected) =>
      val thrown =
        try { verb(); None }
        catch { case scala.util.control.NonFatal(e) => Some(e) }
      val outcomeOk = (thrown, expected) match {
        case (None, None) => true
        case (Some(e), Some(c)) => c.isInstance(e)
        case _ => false
      }
      val (dirs, names) = (uuidDirs(tbl), named(tbl))
      if (outcomeOk && dirs == names) None
      else Some(s"$exit: thrown=$thrown, stray=${dirs -- names}, missing=${names -- dirs}")
    }
    assert(wrong === Nil)
    assert(Snapshots.versions(spark, gen).isEmpty && uuidDirs(gen).isEmpty)
    assert(Snapshots.versions(spark, plain) === Seq(1L, 2L, 3L))
    assert(Snapshots.versions(spark, parted) === Seq(1L, 2L))
  }
}

/** A RawLocalFileSystem answering for the `mock:` scheme — the
  * scheme-honesty unit's stand-in for an object store WITHOUT atomic
  * create-exclusive (what stock S3A is). */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}
