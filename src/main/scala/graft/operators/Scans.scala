package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** §2.1 scans / sources / sinks (SURVEY.md:145-156).
  * Hive origin: Parquet/CSV/JSON/ORC SerDes + partitioned tables +
  * bucketed tables. Spark: DataSource V1/V2 readers with column
  * pruning + predicate pushdown that reach the parquet row-group
  * level (asserted in ScanSpec via explain()).
  *
  * Scale notes: pushdown keys use Tables.raw (uncached) so the
  * physical plan shows PushedFilters/ReadSchema — at 100 TB these
  * two properties (prune + push) are the difference between reading
  * terabytes and reading gigabytes.
  */
object Scans {

  /** Roundtrip scratch dir, keyed by (key, input dir) so a Verify run
    * at one scale factor can never race or clobber a Bench run at
    * another (VERDICT r2 note). */
  private[graft] def ioDir(key: String, inputDir: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_io/${Q.pathKey(inputDir)}/$key"
    new java.io.File(d).mkdirs(); d
  }

  /** The shared 2-commit snapshot history behind
    * `sink_snapshot_isolation` and `sink_snapshot_cdc` (one builder
    * so the two keys' oracles can never drift apart): v1 = the
    * orderkey<800 base slice; v2 = one OCC transaction deleting 'F'
    * rows, bumping 'O' prices by the exact DECIMAL(3,2) literal 1.10,
    * and inserting the 800..1200 slice. Rebuilt from scratch per call
    * — the commit protocol itself is part of what the keys exercise. */
  private def snapshotHistory(s: SparkSession, d: String, root: String): Unit = {
    import graft.sources.Snapshots
    graft.Fs.deleteDir(s, root)
    val o = Tables.t(s, d, "orders")
    def slice(lo: Long, hi: Long) =
      o.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).as("price"))
    Snapshots.commit(s, root, slice(0L, 800L), expectedParent = 0L)
    Snapshots.commitTransform(s, root) { cur =>
      cur.get.filter(col("o_orderstatus") =!= "F")
        .withColumn("price",
          when(col("o_orderstatus") === "O",
            col("price") * lit(BigDecimal("1.10")))
            .otherwise(col("price")))
        .unionByName(slice(800L, 1200L))
    }: Unit
  }

  /** Columns that survive csv/json text roundtrips losslessly.
    * Decimal + date are exercised through the roundtrip; the output
    * boundary re-casts them to hash-safe types (Q.scala contract). */
  private def ordersRoundtripSrc(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec(col("o_totalprice")).as("o_price"),
        col("o_orderdate").cast(DateType).as("o_date"))

  private def rtOut(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_orderstatus"),
      money(col("o_price")).as("o_price"),
      dateOut(col("o_date")).as("o_date"))
      .orderBy(col("o_orderkey"))

  private val ordersRoundtripOracle =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price,
      |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS o_date
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** 16-bit bucket of `v` over [lo, hi] — the z-order normalization.
    * Long arithmetic: (v-lo) ≤ range and ×65535 stays far under 2^63
    * for any key/day-number column. Degenerate range (lo == hi) maps
    * everything to bucket 0. */
  private[graft] def bucket16(v: Column, lo: Long, hi: Long): Column =
    if (hi <= lo) lit(0L)
    else (v - lit(lo)).cast(LongType) * lit(65535L) / lit(hi - lo)

  /** Morton/z-value of two 16-bit bucket columns: interleave the bits
    * (a_i → bit 2i+1, b_i → bit 2i), so sorting by the result gives
    * space-filling-curve locality in BOTH dimensions at once — the
    * multi-column generalization of `sink_sorted_layout`'s single-key
    * sort. Pure codegen'd bit ops; no UDF. */
  private[graft] def zorder16(a: Column, b: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Both states of [[snapshotHistory]] restated from the base table
    * (snap 1 the v1 base slice, snap 2 the post-UPDATE/DELETE/INSERT
    * state; exact decimal through the 1.10 multiply, DOUBLE at the
    * boundary) — shared by `sink_snapshot_isolation` (Scala API read)
    * and `scan_snapshot_sql` (pure-SQL read through graft-snapshot):
    * the two surfaces must agree bit-for-bit. */
  private val snapshotBothStatesOracle =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey < 800),
      |nxt AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'O'
      |         THEN CAST(price * CAST(1.10 AS DECIMAL(3,2)) AS DECIMAL(22,4))
      |         ELSE CAST(price AS DECIMAL(22,4)) END AS price
      |  FROM base WHERE o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(22,4))
      |  FROM orders WHERE o_orderkey >= 800 AND o_orderkey < 1200)
      |SELECT 1 AS snap, o_orderkey, o_orderstatus,
      |  CAST(price AS DOUBLE) AS price FROM base
      |UNION ALL
      |SELECT 2 AS snap, o_orderkey, o_orderstatus,
      |  CAST(price AS DOUBLE) AS price FROM nxt
      |ORDER BY snap, o_orderkey""".stripMargin

  /** Write lineitem/orders subsets co-bucketed + co-sorted on the
    * join key and return their shuffle-free sort-merge join (no
    * output ordering — the plan-shape spec asserts on exactly this
    * frame; the keyed query adds the deterministic orderBy above it).
    * Idempotent per (session, input dir): rewriting the warehouse
    * tables on every call would race a concurrent reader and pay two
    * table writes per bench run. */
  private val bucketedOnce =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  /** SF-scoped table name: the memo is per (session, input dir), so
    * globally-named tables would let a second SF's rebuild silently
    * answer for the first SF's stale memo entry — the exact cross-SF
    * collision Q.pathKey exists to prevent. */
  private[graft] def bucketedTable(base: String, d: String): String =
    s"${base}_${Q.pathKey(d)}"
  private[graft] def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val liTbl = bucketedTable("graft_bkt_lineitem", d)
    val ordTbl = bucketedTable("graft_bkt_orders", d)
    bucketedOnce.getOrElseUpdate(s"${Q.sessionToken(s)}|$d", {
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      for (t <- Seq(liTbl, ordTbl)) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        graft.Fs.deleteDir(s, s"$wh/$t")
      }
      Tables.t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          dec(col("l_extendedprice")).as("l_price"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liTbl)
      Tables.t(s, d, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordTbl)
    })
    s.table(liTbl).hint("merge")
      .join(s.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
  }

  /** The RegexSerDe demo's declared table shape + line pattern,
    * shared by the DSv2 read (`scan_text_serde`) and the expression
    * cross-check. */
  private[graft] val serdeRegex = "^([^|]*)\\|([^|]*)\\|(.*)$"
  private[graft] val serdeSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  /** The pre-r17 expression form of the regex-text read (spark.read
    * .text + regexp_extract per column) — retained as ScanSpec's
    * bit-identity cross-check against the DSv2 reader. */
  private[graft] def regexExpressionRead(s: SparkSession, out: String): DataFrame =
    s.read.text(out)
      .select(
        regexp_extract(col("value"), serdeRegex, 1).cast(LongType).as("o_orderkey"),
        regexp_extract(col("value"), serdeRegex, 2).as("o_orderstatus"),
        regexp_extract(col("value"), serdeRegex, 3).cast(DoubleType).as("o_totalprice"))

  /** Hive multi-insert dataflow (see the `sink_multi_insert` entry):
    * the source is localCheckpoint-materialized ONCE, then each
    * sink's write reads the materialized blocks — a row-level
    * projection of the high-value orders and an aggregate of the
    * rest. Returns (hiDir, loDir, stagedSource); the staged frame is
    * exposed so ScanSpec can assert each sink's physical plan reads
    * the checkpoint (Scan ExistingRDD), never a second parquet scan. */
  private[graft] def multiInsert(s: SparkSession, d: String,
      out: String): (String, String, DataFrame) = {
    val src = Tables.t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        dec(col("o_totalprice")).as("price"))
      .localCheckpoint()
    val hiDir = s"$out/hi"
    val loDir = s"$out/lo"
    src.filter(col("price") >= 300000)
      .write.mode(SaveMode.Overwrite).parquet(hiDir)
    src.filter(col("price") < 300000)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"))
      .write.mode(SaveMode.Overwrite).parquet(loDir)
    (hiDir, loDir, src)
  }

  val queries: Map[String, Q.QueryFn] = Map(
    // Count-preserving narrow projection (SURVEY.md:149): the contract
    // needs a full scan, not a full-width total re-sort of the fact
    // table — at 100 TB sorting+rewriting all 11 columns is a
    // different (and wrong) plan, so project narrow THEN order.
    "scan_parquet" -> ((s, d) =>
      Tables.raw(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        // non-unique (orderkey,linenumber) in the synthetic data —
        // order by every output column so ties are identical rows
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))),

    "scan_projection_pushdown" -> ((s, d) =>
      Tables.raw(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_quantity"))),  // all output cols

    "scan_filter_pushdown" -> ((s, d) =>
      Tables.raw(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-06-01"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))),

    "scan_partitioned" -> { (s, d) =>
      val out = ioDir("scan_partitioned", d)
      Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(out)
      s.read.parquet(out)
        .filter(col("o_year") === 1997)
        .select(col("o_orderkey"), col("o_custkey"), col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"))
    },

    "scan_csv" -> { (s, d) =>
      val out = ioDir("scan_csv", d)
      val src = ordersRoundtripSrc(s, d)
      src.write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
      rtOut(s.read.schema(src.schema).option("header", "true").csv(out))
    },

    "scan_json_file" -> { (s, d) =>
      val out = ioDir("scan_json_file", d)
      val src = ordersRoundtripSrc(s, d)
      src.write.mode(SaveMode.Overwrite).json(out)
      rtOut(s.read.schema(src.schema).json(out))
    },

    "scan_orc" -> { (s, d) =>
      val out = ioDir("scan_orc", d)
      val src = ordersRoundtripSrc(s, d)
      src.write.mode(SaveMode.Overwrite).orc(out)
      rtOut(s.read.schema(src.schema).orc(out))
    },

    "sink_parquet" -> { (s, d) =>
      val out = ioDir("sink_parquet", d)
      Tables.t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(dec18(sum(dec(col("o_totalprice")))).as("total"),
          count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      s.read.parquet(out)
        .select(col("o_orderstatus"), money(col("total")).as("total"), col("n"))
        .orderBy(col("o_orderstatus"))
    },

    // Hive RegexSerDe equivalent: a raw text-format table parsed into
    // typed columns with a regex — the "read arbitrary log lines"
    // surface. Roundtrip through an actual text file (pipe-delimited
    // lines written from orders), read back through the custom DSv2
    // `graft-regex` TableProvider (sources/RegexTextSource.scala —
    // the Hive StorageHandler seat, VERDICT r16 #3): declared schema,
    // capture group i → column i, pruning + filter pushdown in the
    // scan. Lossless: Spark's double→string shortest representation
    // casts back bit-identical. ScanSpec keeps the regexp_extract
    // expression form ([[regexExpressionRead]]) as a bit-identity
    // cross-check and asserts the custom scan node + its pushdown.
    "scan_text_serde" -> { (s, d) =>
      val out = ioDir("scan_text_serde", d)
      Tables.t(s, d, "orders")
        .select(concat_ws("|",
          col("o_orderkey").cast(StringType),
          col("o_orderstatus"),
          col("o_totalprice").cast(StringType)).as("value"))
        .write.mode(SaveMode.Overwrite).text(out)
      s.read.format("graft-regex")
        .schema(serdeSchema)
        .option("regex", serdeRegex)
        .load(out)
        .orderBy(col("o_orderkey"))
    },

    // Schema evolution across file generations — the operational read
    // every long-lived dataset eventually needs: gen-1 files lack a
    // column that gen-2 added; `mergeSchema=true` reconciles the
    // footers into the union schema and null-fills the old files.
    // The oracle restates the semantics against the base table
    // (UNION ALL with an explicit NULL for the missing column).
    "scan_merge_schema" -> { (s, d) =>
      val out = ioDir("scan_merge_schema", d)
      val o = Tables.t(s, d, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/gen1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/gen2")
      s.read.option("mergeSchema", "true").parquet(s"$out/gen1", s"$out/gen2")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },

    // Hive's dynamic-partition INSERT OVERWRITE (`INSERT OVERWRITE
    // TABLE ... PARTITION (year)` with hive.exec.dynamic.partition):
    // an overwrite that replaces ONLY the partitions the incoming
    // data touches, leaving every other partition intact — the write
    // discipline a 100 TB partitioned dataset depends on (a static
    // overwrite would wipe years of history to rewrite one day).
    // Seed all years with tag=SEED, dynamically overwrite 1997 with
    // tag=NEW, read everything back: untouched years must still be
    // SEED (static mode would have deleted them → row-count mismatch
    // vs the oracle) and 1997 must be NEW exactly once (an append
    // would duplicate it → hash mismatch).
    "sink_partition_overwrite" -> { (s, d) =>
      val out = ioDir("sink_partition_overwrite", d)
      val o = Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      o.select(col("o_orderkey"), lit("SEED").as("tag"), col("o_year"))
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(out)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // .write is eager, so the scoped conf really governs this write
      try o.filter(col("o_year") === 1997)
        .select(col("o_orderkey"), lit("NEW").as("tag"), col("o_year"))
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(out)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.read.parquet(out)
        .select(col("o_orderkey"), col("tag"), col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"), col("tag"))
    },

    // Hive multi-insert (`FROM src INSERT OVERWRITE TABLE hi SELECT
    // ... WHERE ... INSERT OVERWRITE TABLE lo SELECT ... WHERE ...`,
    // `ql.parse.SemanticAnalyzer` multi-destination query blocks):
    // Hive's signature single-scan fan-out — ONE pass over the source
    // feeds N heterogeneous sinks, here a row-level projection of the
    // high-value orders and an aggregate of the rest, so the two
    // destinations even disagree on shape. Spark has no multi-insert
    // statement; the dataflow is the source materialized once
    // (localCheckpoint) with each sink's write reading the
    // materialized blocks — ScanSpec asserts neither sink's physical
    // plan rescans the parquet. The keyed result is the tagged union
    // of both sinks read back; the oracle restates it from the base
    // table. At 100 TB materialization-vs-rescan is a cost call
    // (persist(DISK_ONLY) when the source is an expensive
    // join/filter chain, two pushed-down scans when it is a raw
    // table); the fan-out dataflow is this one either way.
    "sink_multi_insert" -> { (s, d) =>
      val (hiDir, loDir, _) = multiInsert(s, d, ioDir("sink_multi_insert", d))
      val hi = s.read.parquet(hiDir)
        .select(lit("hi").as("sink"), col("o_orderkey").as("k"),
          col("o_orderpriority").as("pri"), lit(1L).as("n"),
          money(col("price")).as("v"))
      val lo = s.read.parquet(loDir)
        .select(lit("lo").as("sink"), lit(null).cast(LongType).as("k"),
          col("o_orderpriority").as("pri"), col("n"),
          money(col("sum_price")).as("v"))
      // k is NULL only in the 'lo' group, where pri is unique — the
      // sort never tie-breaks through a NULL, so Spark's NULLS FIRST
      // vs DuckDB's NULLS LAST default can't diverge
      hi.unionByName(lo).orderBy(col("sink"), col("pri"), col("k"))
    },

    // Hive 3 ACID `MERGE INTO` (WHEN MATCHED take the source row,
    // WHEN NOT MATCHED insert it, unmatched target rows pass through)
    // on the snapshot layer's keyed upsert, Snapshots.mergeTransform
    // — Hive runs MERGE only on transactional tables. Seed a
    // year-partitioned snapshot, merge the %10==3 updates and the
    // key-shifted inserts in one OCC commit, read the latest state
    // back. Source rows carry their order's o_year (a key never moves
    // partitions) and the output drops it again. The doubled price is
    // cast back to the column's DECIMAL(18,2) so every entry keeps one
    // schema; it stays exact in both engines. The oracle restates the
    // final state row-for-row.
    "sink_merge_upsert" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_merge_upsert", d)}/tbl"
      graft.Fs.deleteDir(s, root)
      val o = Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      Snapshots.commitPartitioned(s, root,
        o.select(col("o_orderkey"), lit("SEED").as("status"),
          dec(col("o_totalprice")).as("price"), col("o_year")),
        "o_year", expectedParent = 0L)
      // insert keys shift past the DATA's actual max (one bounded
      // 1-value collect), never a hardcoded constant — a constant
      // collides with real keys at a large enough scale factor and
      // silently merges inserts onto existing rows (r16 review)
      // +1: orderkey 0 shifted by exactly max(o_orderkey) would land
      // ON the max key and merge instead of inserting
      val maxKey = o.agg(max(col("o_orderkey"))).head.getLong(0) + 1
      val source = o.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), lit("UPD").as("status"),
          (dec(col("o_totalprice")) * 2).cast(DecimalType(18, 2)).as("price"),
          col("o_year"))
        .unionByName(o.filter(col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + lit(maxKey)).as("o_orderkey"),
            lit("INS").as("status"), dec(col("o_totalprice")).as("price"),
            col("o_year")))
      Snapshots.mergeTransform(s, root, "o_year", source, Seq("o_orderkey")): Unit
      Snapshots.read(s, root)
        .select(col("o_orderkey"), col("status"), money(col("price")).as("price"))
        .orderBy(col("o_orderkey"))
    },

    // Hive 3 ACID `UPDATE` + `DELETE` as one keyed scenario (the MERGE
    // siblings) on the snapshot copy-on-write verbs: seed a
    // year-partitioned snapshot, UPDATE the %10==3 rows of 1997+
    // (replaceTransform restages only the 1997+ partitions), DELETE
    // the %7==2 rows of ≤1996 (Snapshots.deleteWhere restages only
    // the partitions holding a matched row), read the final state
    // back. The oracle restates it row-for-row against the base table
    // (CASE for the update, NOT(...) for the delete; the doubled price
    // stays in DECIMAL so both engines are exact). Partition scoping,
    // NULL-predicate semantics and emptied partitions are SnapshotSpec
    // asserts.
    "sink_acid_update_delete" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_acid_update_delete", d)}/tbl"
      graft.Fs.deleteDir(s, root)
      Snapshots.commitPartitioned(s, root,
        Tables.t(s, d, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .select(col("o_orderkey"), lit("SEED").as("status"),
            dec(col("o_totalprice")).as("price"), col("o_year")),
        "o_year", expectedParent = 0L)
      // UPDATE SET status = 'UPD', price = price * 2. Each SET value
      // is cast to its column's DECLARED type (SQL UPDATE semantics):
      // uncast, price * 2 is a wider decimal, so the restaged entries
      // would carry a wider column than the inherited ones and the
      // UPDATE would change the table's schema.
      val upd = col("o_orderkey") % 10 === 3
      Snapshots.replaceTransform(s, root, "o_year") { cur =>
        cur.filter(col("o_year") >= 1997)
          .withColumn("status", when(upd, lit("UPD")).otherwise(col("status")))
          .withColumn("price", when(upd, (col("price") * 2).cast(DecimalType(18, 2)))
            .otherwise(col("price")))
      }: Unit
      Snapshots.deleteWhere(s, root, "o_year",
        col("o_orderkey") % 7 === 2 && col("o_year") <= 1996): Unit
      Snapshots.read(s, root)
        .select(col("o_orderkey"), col("status"), money(col("price")).as("price"),
          col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"))
    },

    // Hive `ALTER TABLE ... DROP PARTITION (o_year < 1997)` — the
    // retention sweep, as Snapshots.commitDropPartitions: seed a
    // year-partitioned snapshot, then commit a manifest without the
    // pre-1997 years. The drop itself is metadata-only: one marker,
    // zero data I/O, and readers of the seed version keep its files.
    // Oracle: the base table filtered to the surviving years.
    "sink_drop_partition" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_drop_partition", d)}/tbl"
      graft.Fs.deleteDir(s, root)
      val base = Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).as("o_price"), col("o_year"))
      Snapshots.commitPartitioned(s, root, base, "o_year", expectedParent = 0L)
      val expiring = base.filter(col("o_year") < 1997).select(col("o_year"))
        .distinct().collect().map(_.getInt(0).toString).toSeq
      Snapshots.commitDropPartitions(s, root, expiring, expectedParent = 1L): Unit
      Snapshots.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          money(col("o_price")).as("o_price"),
          col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"))
    },

    // Sorted data layout for min/max data skipping — Hive's
    // `CLUSTERED BY ... SORTED BY` table layout + the ORC row-group
    // index it feeds (`hive.optimize.index.filter`), re-expressed on
    // parquet: range-partition + sort the table on its dominant
    // filter column so every row group's min/max span is narrow, and
    // the pushed-down predicate skips WHOLE row groups in the
    // reader. Layout is semantics-preserving, so the oracle is the
    // plain filter over the base table; the SKIPPING is the point
    // and ScanSpec proves it with metrics — the same date filter
    // over a tiny-row-group copy surfaces far fewer rows from the
    // sorted layout's scan than from a hash-scrambled one. MEASURED
    // (r17): the sort key must be a type the reader evaluates
    // row-group stats for — LONG and DATE skip, TIMESTAMP_NTZ does
    // NOT (its pushed predicate never reaches the parquet stats
    // filter: 1500/1500 rows surfaced where DATE read 300) — so the
    // layout casts the NTZ order date to DATE at write. At 100 TB
    // this is the single highest-leverage layout decision a
    // time-series fact table makes: partition by coarse time, SORT
    // within files by the secondary filter key, and a selective
    // predicate reads a sliver of each file instead of all of it.
    "sink_sorted_layout" -> { (s, d) =>
      val out = ioDir("sink_sorted_layout", d)
      Tables.t(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
          dec(col("o_totalprice")).as("price"))
        .repartitionByRange(4, col("o_date"))
        .sortWithinPartitions(col("o_date"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      s.read.parquet(out)
        .filter(col("o_date").between("1995-01-01", "1995-12-31"))
        .select(col("o_orderkey"), dateOut(col("o_date")).as("o_date"),
          money(col("price")).as("price"))
        .orderBy(col("o_orderkey"))
    },

    // Multi-dimensional clustering for data skipping (r19): the
    // z-order/Morton-curve layout public formats ship as OPTIMIZE
    // ZORDER BY — `sink_sorted_layout` generalized past one sort key.
    // A single-column sort skips row groups for ONE dimension and
    // leaves every other column's min/max spanning the whole table;
    // interleaving the bits of both filter columns' 16-bit bucket
    // ranks ([[zorder16]], pure codegen'd bit ops) and range-
    // partitioning + sorting on the z-value gives every row group a
    // narrow min/max span in BOTH dimensions, so a selective
    // predicate on EITHER column prunes whole row groups in the
    // parquet reader (ScanSpec proves it with scan metrics against a
    // date-sorted and a scrambled copy of the same rows). Bucket
    // bounds come from one 4-scalar driver agg. Layout is
    // semantics-preserving, so the oracle is the plain two-dimension
    // filter over the base table. At 100 TB this is the layout call
    // for a fact table with TWO hot filter dimensions (tenant ×
    // time, user × date): one sort order serves both predicates.
    "sink_zorder_layout" -> { (s, d) =>
      val out = ioDir("sink_zorder_layout", d)
      val o = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("o_date"),
          dec(col("o_totalprice")).as("price"))
      // bucket bounds: one bounded driver read of 4 scalars
      val r = o.agg(min(col("o_custkey")), max(col("o_custkey")),
        min(datediff(col("o_date"), lit("1970-01-01"))),
        max(datediff(col("o_date"), lit("1970-01-01")))).head
      val z = zorder16(
        bucket16(col("o_custkey"), r.getLong(0), r.getLong(1)),
        bucket16(datediff(col("o_date"), lit("1970-01-01")).cast(LongType),
          r.getInt(2).toLong, r.getInt(3).toLong))
      o.withColumn("z", z)
        .repartitionByRange(4, col("z"))
        .sortWithinPartitions(col("z"))
        .drop("z")
        .write.mode(SaveMode.Overwrite).parquet(out)
      s.read.parquet(out)
        .filter(col("o_custkey") <= 400 &&
          col("o_date").between("1995-01-01", "1995-12-31"))
        .select(col("o_orderkey"), col("o_custkey"),
          dateOut(col("o_date")).as("o_date"), money(col("price")).as("price"))
        .orderBy(col("o_orderkey"))
    },

    // Transactional snapshot isolation (the seat Hive ACID's
    // base/delta + ValidTxnList fills; previously a declared
    // non-goal): the versioned table in sources/Snapshots.scala gives
    // immutable data dirs + one atomic commit-marker creation per
    // version, so readers resolve a snapshot once and never see a
    // torn or shifting state, writers get optimistic write-write
    // conflict detection, and old versions stay time-travel readable
    // until expired. The key runs a 2-commit history — v1 a base
    // load, v2 a transactional UPDATE (+10% on 'O' rows) + DELETE
    // ('F' rows) + INSERT (the next key range) through the OCC
    // transform — then reads BOTH snapshots back, time-travel v1 and
    // latest v2, tagged. Money stays exact decimal through commit
    // and multiply (DECIMAL(18,2) × DECIMAL(3,2) literal — natural
    // scale, no decimal down-cast) to the DOUBLE boundary. The
    // protocol's atomicity/conflict/expiry guarantees are
    // thread-raced in SnapshotSpec; this key puts the dataflow and
    // both snapshot states under the DuckDB hash. The same 2-commit
    // history feeds sink_snapshot_cdc ([[snapshotHistory]]).
    "sink_snapshot_isolation" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_snapshot_isolation", d)}/tbl"
      snapshotHistory(s, d, root)
      Snapshots.readAsOf(s, root, 1L).withColumn("snap", lit(1))
        .unionByName(Snapshots.read(s, root).withColumn("snap", lit(2)))
        .select(col("snap"), col("o_orderkey"), col("o_orderstatus"),
          money(col("price")).as("price"))
        .orderBy(col("snap"), col("o_orderkey"))
    },

    // Row-level CDC between two committed snapshots — what an
    // incremental downstream consumer (a derived table, an index, a
    // feature store) reads instead of re-scanning the full snapshot:
    // Snapshots.cdc full-outer-joins the immutable v1/v2 manifests on
    // the key and classifies insert (the 800..1200 load), delete (the
    // dropped 'F' rows) and update (the +10% 'O' rows), null-safely;
    // unchanged rows never surface. The oracle restates all three
    // change classes straight from the base table. ('O' prices are
    // strictly positive, so every bumped row really changes —
    // price = 0 would classify unchanged on both engines alike.)
    "sink_snapshot_cdc" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_snapshot_cdc", d)}/tbl"
      snapshotHistory(s, d, root)
      Snapshots.cdc(s, root, 1L, 2L, Seq("o_orderkey"))
        .select(col("change_type"), col("o_orderkey"),
          col("old_o_orderstatus"), col("new_o_orderstatus"),
          money(col("old_price")).as("old_price"),
          money(col("new_price")).as("new_price"))
        .orderBy(col("change_type"), col("o_orderkey"))
    },

    // The snapshot table format's SQL surface (VERDICT r18 #3): the
    // SAME 2-commit history as sink_snapshot_isolation, but resolved
    // and read from PURE SQL TEXT through the `graft-snapshot`
    // RelationProvider (sources/SnapshotSource.scala) — CREATE
    // TEMPORARY VIEW ... USING with versionAsOf '1' (time travel) and
    // without (latest), then a plain UNION ALL query over the views.
    // The relation is a HadoopFsRelation over a SnapshotFileIndex of
    // the resolved manifest's immutable entries, so the plan is the
    // NATIVE vectorized parquet FileScan with pushdown/pruning
    // (plan-asserted in SnapshotSpec), not a row-converting shim. Oracle: identical to
    // sink_snapshot_isolation — the Scala API and the SQL surface
    // must agree bit-for-bit on both snapshots.
    "scan_snapshot_sql" -> { (s, d) =>
      val root = s"${ioDir("scan_snapshot_sql", d)}/tbl"
      snapshotHistory(s, d, root)
      val (v1, vLatest) =
        (s"graft_snap_v1_${Q.pathKey(d)}", s"graft_snap_latest_${Q.pathKey(d)}")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW $v1 USING `graft-snapshot` " +
        s"OPTIONS (path '$root', versionAsOf '1')")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW $vLatest USING `graft-snapshot` " +
        s"OPTIONS (path '$root')")
      s.sql(
        s"""SELECT 1 AS snap, o_orderkey, o_orderstatus,
           |  CAST(price AS DOUBLE) AS price FROM $v1
           |UNION ALL
           |SELECT 2 AS snap, o_orderkey, o_orderstatus,
           |  CAST(price AS DOUBLE) AS price FROM $vLatest
           |ORDER BY snap, o_orderkey""".stripMargin)
    },

    // Copy-on-write transactional UPDATE through the snapshot layer
    // (VERDICT r18 #2 — the O(table) rewrite gap): seed a partition-
    // granular snapshot of orders keyed by year (commitPartitioned:
    // one manifest entry per __gp=<year> subdir), then run ONE OCC
    // replace-transform that rewrites ONLY the 2000+ partitions
    // (2 of the driver data's 7 years — the other 5 inherit)
    // (doubling the %10==3 prices) — every other year is inherited by
    // manifest REFERENCE, zero bytes restaged (byte-identity and
    // write-volume are SnapshotSpec asserts). This is the acid-update
    // discipline (sink_acid_update_delete) composed with snapshot
    // isolation: readers of v1 keep a consistent pre-update view for
    // free, and at 100 TB the UPDATE stages the affected partitions'
    // bytes, not the table. The oracle restates the final state from
    // the base table (the same CASE sink_acid_update_delete proves);
    // the *2 stays in DECIMAL(18,2) — exact in both engines.
    "sink_snapshot_cow" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_snapshot_cow", d)}/tbl"
      graft.Fs.deleteDir(s, root)
      val base = Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).as("price"), col("o_year"))
      Snapshots.commitPartitioned(s, root, base, "o_year", expectedParent = 0L)
      Snapshots.replaceTransform(s, root, "o_year") { cur =>
        cur.filter(col("o_year") >= 2000)
          .withColumn("price",
            when(col("o_orderkey") % 10 === 3, col("price") * 2)
              .otherwise(col("price")).cast(DecimalType(18, 2)))
      }: Unit
      Snapshots.read(s, root)
        .select(col("o_orderkey"), col("o_orderstatus"),
          money(col("price")).as("price"),
          col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"))
    },

    // MERGE made first-class on the snapshot layer (VERDICT r19 #5):
    // the sink_merge_upsert dataflow (WHEN MATCHED take the source
    // row, WHEN NOT MATCHED insert) composed with the copy-on-write
    // replace commit — Snapshots.mergeTransform upserts a source
    // touching ONLY the 2000+ years (2 of the driver data's 7), so
    // the commit stages those partitions and inherits the other five
    // by manifest reference (partition-scoping is a SnapshotSpec
    // assert). The UPD rows double the %10==3 prices (kept in
    // DECIMAL(18,2) — exact in both engines, and type-stable across
    // the merged manifest); the INS rows key-shift past the data's
    // real max. At 100 TB this is the micro-batch-upsert-into-
    // date-partitioned-table path: rewrite the touched dates, one
    // marker, never the table.
    "sink_snapshot_merge" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_snapshot_merge", d)}/tbl"
      graft.Fs.deleteDir(s, root)
      val o = Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      val base = o.select(col("o_orderkey"), lit("SEED").as("status"),
        dec(col("o_totalprice")).as("price"), col("o_year"))
      Snapshots.commitPartitioned(s, root, base, "o_year", expectedParent = 0L)
      val recent = o.filter(col("o_year") >= 2000)
      val maxKey = o.agg(max(col("o_orderkey"))).head.getLong(0) + 1
      val source = recent.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), lit("UPD").as("status"),
          (dec(col("o_totalprice")) * 2).cast(DecimalType(18, 2)).as("price"),
          col("o_year"))
        .unionByName(recent.filter(col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + lit(maxKey)).as("o_orderkey"),
            lit("INS").as("status"), dec(col("o_totalprice")).as("price"),
            col("o_year")))
      Snapshots.mergeTransform(s, root, "o_year", source, Seq("o_orderkey")): Unit
      Snapshots.read(s, root)
        .select(col("o_orderkey"), col("status"),
          money(col("price")).as("price"), col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"))
    },

    // MANIFEST-LEVEL DATA SKIPPING (r20 — the column-bounds half of
    // the per-entry statistics verdict item): every commit records
    // each entry's column min/max in the marker (same footer pass as
    // the row counts, zero extra I/O), and Snapshots.readRange prunes
    // a range read to the INTERSECTING entries from ONE marker read —
    // before any file listing or footer fetch — by the rule SQL scans
    // and stream batches share (SnapshotFileIndex.prune). Here orders
    // committed partition-granular by year gets a 1995-1996 range
    // scan: 2 of the driver data's 7 entries plan, 5 are skipped as
    // pure metadata (entry-level skip is plan-asserted in SnapshotSpec,
    // along with long/double/string kinds on non-partition columns).
    // At 100 TB this is the stats layer public formats put in their
    // manifests: a clustered range query never lists the table.
    "scan_snapshot_stats_prune" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("scan_snapshot_stats_prune", d)}/tbl"
      graft.Fs.deleteDir(s, root)
      val base = Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).as("price"), col("o_year"))
      Snapshots.commitPartitioned(s, root, base, "o_year", expectedParent = 0L)
      Snapshots.readRange(s, root, "o_year", 1995, 1996)
        .select(col("o_orderkey"), col("o_orderstatus"),
          money(col("price")).as("price"), col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"))
    },

    // CDC-DRIVEN incremental aggregate maintenance (r19) — the
    // "incremental downstream consumer" the snapshot CDC exists for:
    // a derived aggregate (the feature-store/MV state) is advanced
    // from v1 to v2 by applying Snapshots.cdc's row-level deltas —
    // every update contributes -old +new, a delete -old, an insert
    // +new — instead of re-aggregating the snapshot. The cdc scan is
    // manifest-pruned (reads the changed entries only), so at 100 TB
    // the maintenance cost is O(changed rows), not O(table): the
    // commit-log twin of agg_mv_incremental's partition absorb.
    // Groups whose count reaches zero drop out. Exact decimal end to
    // end (sums in DECIMAL(22,4) — v2's natural price scale); the
    // incremental state is proven bit-identical to the full rebuild
    // in SnapshotSpec, and the oracle restates the v2 aggregate from
    // the base table. (Null group values would need null-tagged
    // contribution structs; orders statuses are non-null.)
    "agg_snapshot_incremental" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("agg_snapshot_incremental", d)}/tbl"
      snapshotHistory(s, d, root)
      val dec224 = DecimalType(22, 4)
      val mv1 = Snapshots.readAsOf(s, root, 1L)
        .groupBy(col("o_orderstatus").as("g"))
        .agg(sum(col("price").cast(dec224)).as("total"), count(lit(1)).as("n"))
      val contrib = Snapshots.cdc(s, root, 1L, 2L, Seq("o_orderkey"))
        .select(explode(array(
          struct(col("old_o_orderstatus").as("g"),
            (col("old_price").cast(dec224) * -1).cast(dec224).as("total"),
            lit(-1L).as("n")),
          struct(col("new_o_orderstatus").as("g"),
            col("new_price").cast(dec224).as("total"),
            lit(1L).as("n")))).as("c"))
        .select(col("c.g").as("g"), col("c.total").as("total"), col("c.n").as("n"))
        .filter(col("g").isNotNull)
      mv1.unionByName(contrib)
        .groupBy(col("g"))
        .agg(sum(col("total")).as("total"), sum(col("n")).as("n"))
        .filter(col("n") > 0)
        .select(col("g").as("o_orderstatus"), col("n"),
          money(col("total")).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // The bucket-map-join READ path — the capability Hive bucketing
    // exists for (ConvertJoinMapJoin / SMB join): two tables written
    // co-bucketed + co-sorted on the join key join WITHOUT ANY
    // shuffle, because each bucketed scan's output partitioning
    // already satisfies the join's distribution requirement. On this
    // testbed both sides are tiny, so the merge hint pins the
    // sort-merge path (auto-broadcast would otherwise hide exactly
    // the property this key proves); at 100 TB both sides exceed the
    // broadcast threshold and this IS the plan — a fact-fact join
    // with zero exchanges. ScanSpec asserts the executed plan of
    // [[bucketedJoin]] contains no Exchange node and scans with
    // `Bucketed: true`. Bucketing is semantics-preserving, so the
    // oracle is the PLAIN join (same pattern as join_skew_salted);
    // the output orderBy (needed for hash-match determinism) is the
    // only exchange in the keyed form and sits ABOVE the join.
    "join_bucketed" -> { (s, d) =>
      bucketedJoin(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
          money(col("l_price")).as("l_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
          col("l_price"))
    },

    // Hive TABLESAMPLE (BUCKET x OUT OF y ON col) semantics:
    // DETERMINISTIC bucket membership — the row set is a pure
    // function of the key, reproducible across runs, engines, and
    // partitionings (unlike Bernoulli `sample_fraction`, whose seed
    // semantics are engine-specific). Membership uses the SAME hash
    // Spark's bucketed writer uses (murmur3 pmod numBuckets), so the
    // sampled rows are exactly the contents of one physical bucket of
    // a co-bucketed table — ScanSpec proves that by reading the
    // bucket-1 files of the saved table and comparing row sets, and
    // asserts the 4 buckets partition the table (disjoint + cover).
    // Murmur3 has no DuckDB equivalent → unit-verified key (same
    // allowance as sample_fraction).
    "sample_bucket" -> ((s, d) =>
      Tables.t(s, d, "lineitem")
        .filter(pmod(hash(col("l_orderkey")), lit(4)) === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // Small-file compaction as a keyed query (VERDICT r16 #1), on
    // Snapshots.compactPartitioned: seed a year-partitioned snapshot
    // holding one third of 1997, append the other two thirds the way
    // incremental writes would (1997 now spans three entries),
    // compact — every partition restages into one fresh entry, in one
    // OCC commit — and read the whole table back. The oracle restates
    // the content against the base table (compaction is physical
    // layout, not semantics: row loss OR duplication under the
    // rewrite would hash-mismatch); the collapse to one entry per
    // partition is a SnapshotSpec assert.
    "sink_compact" -> { (s, d) =>
      import graft.sources.Snapshots
      val root = s"${ioDir("sink_compact", d)}/tbl"
      graft.Fs.deleteDir(s, root)
      val o = Tables.t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_custkey"),
          dec(col("o_totalprice")).as("o_price"), col("o_year"))
      val slice1997 = (i: Int) => col("o_year") === 1997 && col("o_orderkey") % 3 === i
      Snapshots.commitPartitioned(s, root,
        o.filter(col("o_year") =!= 1997 || slice1997(0)), "o_year", expectedParent = 0L)
      for (i <- 1 to 2)
        Snapshots.appendPartitioned(s, root, o.filter(slice1997(i)), "o_year",
          expectedParent = i.toLong)
      Snapshots.compactPartitioned(s, root, "o_year"): Unit
      Snapshots.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"),
          money(col("o_price")).as("o_price"),
          col("o_year").cast(IntegerType))
        .orderBy(col("o_orderkey"))
    },

    "sink_bucketed" -> { (s, d) =>
      s.sql("DROP TABLE IF EXISTS graft_bucketed")
      // a fresh session's in-memory catalog forgets the table but its
      // warehouse dir survives — clear it or saveAsTable refuses
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      graft.Fs.deleteDir(s, s"$wh/graft_bucketed")
      Tables.t(s, d, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), dec(col("l_extendedprice")).as("l_price"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_bucketed")
      s.table("graft_bucketed")
        .select(col("l_orderkey"), col("l_linenumber"), money(col("l_price")).as("l_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_price"))
    }
  )

  val oracle: Map[String, String] = Map(
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "scan_projection_pushdown" ->
      "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_quantity",
    "scan_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-06-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber, l_shipdate""".stripMargin,
    "scan_partitioned" ->
      """SELECT o_orderkey, o_custkey, CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders WHERE year(o_orderdate) = 1997 ORDER BY o_orderkey""".stripMargin,
    "scan_csv" -> ordersRoundtripOracle,
    "scan_json_file" -> ordersRoundtripOracle,
    "scan_orc" -> ordersRoundtripOracle,
    "sink_parquet" ->
      """SELECT o_orderstatus, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // layout is semantics-preserving: the oracle is the plain
    // two-dimension filter (the skipping itself is ScanSpec's proof)
    "sink_zorder_layout" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS o_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_custkey <= 400
        |  AND CAST(o_orderdate AS DATE) BETWEEN '1995-01-01' AND '1995-12-31'
        |ORDER BY o_orderkey""".stripMargin,
    // layout is semantics-preserving: the oracle is the plain filter
    "sink_sorted_layout" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS o_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
        |ORDER BY o_orderkey""".stripMargin,
    // both snapshot states restated from the base table: snap 1 the
    // v1 base slice, snap 2 the post-UPDATE/DELETE/INSERT state —
    // exact decimal through the 1.10 multiply, DOUBLE at the boundary
    "sink_snapshot_isolation" -> snapshotBothStatesOracle,
    // the SQL surface reads the SAME history through graft-snapshot
    // views — same oracle, proving Scala API ≡ SQL surface
    "scan_snapshot_sql" -> snapshotBothStatesOracle,
    // the incrementally maintained aggregate equals the v2 state
    // aggregated from scratch — restated from the base table (the
    // same nxt derivation as the isolation oracle, then grouped)
    "agg_snapshot_incremental" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey < 800),
        |nxt AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderstatus = 'O'
        |         THEN CAST(price * CAST(1.10 AS DECIMAL(3,2)) AS DECIMAL(22,4))
        |         ELSE CAST(price AS DECIMAL(22,4)) END AS price
        |  FROM base WHERE o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(22,4))
        |  FROM orders WHERE o_orderkey >= 800 AND o_orderkey < 1200)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(price) AS DOUBLE) AS total
        |FROM nxt GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // the three change classes restated straight from the base table:
    // deletes = the 'F' rows of the v1 slice, inserts = the v2 load
    // slice, updates = the 'O' rows with old and bumped price
    "sink_snapshot_cdc" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey < 800)
        |SELECT 'delete' AS change_type, o_orderkey,
        |  o_orderstatus AS old_o_orderstatus,
        |  CAST(NULL AS VARCHAR) AS new_o_orderstatus,
        |  CAST(price AS DOUBLE) AS old_price,
        |  CAST(NULL AS DOUBLE) AS new_price
        |FROM base WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'insert', o_orderkey, CAST(NULL AS VARCHAR), o_orderstatus,
        |  CAST(NULL AS DOUBLE),
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |FROM orders WHERE o_orderkey >= 800 AND o_orderkey < 1200
        |UNION ALL
        |SELECT 'update', o_orderkey, o_orderstatus, o_orderstatus,
        |  CAST(price AS DOUBLE),
        |  CAST(price * CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE)
        |FROM base WHERE o_orderstatus = 'O'
        |ORDER BY change_type, o_orderkey""".stripMargin,
    // the copy-on-write UPDATE's final state restated from the base
    // table — semantically the acid-update CASE, executed through the
    // snapshot layer's partition-scoped replace commit
    "sink_snapshot_cow" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 10 = 3 AND year(o_orderdate) >= 2000
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS price,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // the snapshot MERGE's final state restated from the base table:
    // matched 2000+ keys carry the UPDATE, shifted 2000+ keys the
    // INSERT, everything else (including all pre-2000 partitions,
    // inherited by manifest reference) passes through as seeded
    "sink_snapshot_merge" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 3 AND year(o_orderdate) >= 2000
        |       THEN 'UPD' ELSE 'SEED' END AS status,
        |  CAST(CASE WHEN o_orderkey % 10 = 3 AND year(o_orderdate) >= 2000
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS price,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders), 'INS',
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE),
        |  CAST(year(o_orderdate) AS INTEGER)
        |FROM orders WHERE o_orderkey % 100 = 0 AND year(o_orderdate) >= 2000
        |ORDER BY o_orderkey""".stripMargin,
    // the stats-pruned range read is semantics-preserving: the oracle
    // is the plain year-range filter over the base table
    "scan_snapshot_stats_prune" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1995 AND 1996
        |ORDER BY o_orderkey""".stripMargin,
    // both destinations restated from the base table and re-tagged:
    // the hi sink row-for-row, the lo sink as the same aggregate
    "sink_multi_insert" ->
      """SELECT 'hi' AS sink, o_orderkey AS k, o_orderpriority AS pri,
        |  CAST(1 AS BIGINT) AS n,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
        |FROM orders WHERE CAST(o_totalprice AS DECIMAL(18,2)) >= 300000
        |UNION ALL
        |SELECT 'lo', NULL, o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders WHERE CAST(o_totalprice AS DECIMAL(18,2)) < 300000
        |GROUP BY o_orderpriority
        |ORDER BY sink, pri, k""".stripMargin,
    // the merged final state restated row-for-row against the base
    // table: matched keys carry the UPDATE, shifted keys the INSERT,
    // the rest pass through untouched
    "sink_merge_upsert" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 3 THEN 'UPD' ELSE 'SEED' END AS status,
        |  CAST(CASE WHEN o_orderkey % 10 = 3
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS price
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders), 'INS',
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // the post-UPDATE/post-DELETE final state restated against the
    // base table: the update is a CASE on its predicate, the delete
    // a NOT(...) filter, both over year(o_orderdate)
    "sink_acid_update_delete" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 3 AND year(o_orderdate) >= 1997
        |       THEN 'UPD' ELSE 'SEED' END AS status,
        |  CAST(CASE WHEN o_orderkey % 10 = 3 AND year(o_orderdate) >= 1997
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS price,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 2 AND year(o_orderdate) <= 1996)
        |ORDER BY o_orderkey""".stripMargin,
    // the retention sweep's survivors restated against the base table
    "sink_drop_partition" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders
        |WHERE year(o_orderdate) >= 1997
        |ORDER BY o_orderkey""".stripMargin,
    // compaction is a pure layout rewrite: the content restates the
    // base table exactly
    "sink_compact" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // the final state after seed-all + dynamic-overwrite-1997,
    // restated against the base table
    "sink_partition_overwrite" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1997 THEN 'NEW' ELSE 'SEED' END AS tag,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year
        |FROM orders ORDER BY o_orderkey, tag""".stripMargin,
    // bucketing is physical layout, not semantics: the oracle is the
    // plain join over the same subsets
    "join_bucketed" ->
      """SELECT l_orderkey, l_linenumber, o_orderstatus,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS l_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey < 2000
        |ORDER BY l_orderkey, l_linenumber, o_orderstatus, l_price""".stripMargin,
    "sink_bucketed" ->
      """SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS l_price
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber, l_price""".stripMargin,
    "scan_text_serde" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "scan_merge_schema" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 2 <> 0
        |ORDER BY o_orderkey""".stripMargin
  )
}
