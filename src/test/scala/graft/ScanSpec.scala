package graft

import org.apache.spark.sql.functions._

/** §2.1 plan-shape assertions: pushdown and pruning must reach the
  * parquet reader — at 100 TB these two properties are the difference
  * between reading terabytes and reading gigabytes (SURVEY.md:149-152).
  */
class ScanSpec extends SparkSpec {

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  /** A PRIVATE copy of lineitem for the pushdown/pruning asserts:
    * Spark's CacheManager substitutes InMemoryRelation into ANY plan
    * whose relation matches a cached one — including `Tables.raw` —
    * so if another suite cached lineitem first (suite order is not
    * contractual), the parquet scan these tests assert on would
    * vanish. A distinct file path can never match the cached plan. */
  private lazy val privateLineitem: String = {
    val dst = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_scanspec/lineitem.parquet")
    dst.getParentFile.mkdirs()
    org.apache.commons.io.FileUtils.copyFile(
      new java.io.File(s"$sf/lineitem.parquet"), dst)
    dst.getAbsolutePath
  }

  test("filter pushdown reaches the parquet scan (PushedFilters)") {
    val df = spark.read.parquet(privateLineitem)
      .filter(col("l_shipdate") >= lit("2000-06-01"))
      .select(col("l_orderkey"))
    val plan = formattedPlan(df)
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("l_shipdate"), plan)
    assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"), plan)
  }

  test("column pruning reaches the parquet reader (ReadSchema)") {
    val df = spark.read.parquet(privateLineitem)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = formattedPlan(df)
    // 2 of 11 columns in ReadSchema; the wide columns must be absent
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_extendedprice"), plan)
    assert(!plan.contains("l_comment"), plan)
  }

  test("broadcast join is chosen for the small dimension side") {
    val df = Tables.raw(spark, sf, "lineitem")
      .join(broadcast(Tables.raw(spark, sf, "part")),
        col("l_partkey") === col("p_partkey"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("partition pruning reaches the file index (PartitionFilters)") {
    import graft.operators.Scans
    Scans.queries("scan_partitioned")(spark, sf).count() // writes the partitioned copy
    val dir = Scans.ioDir("scan_partitioned", sf)
    val df = spark.read.parquet(dir).filter(col("o_year") === 1997)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*o_year[^\\]]*\\].*"), plan)
    // the pruning must actually happen, not just be planned: the file
    // index, asked with the plan's own partition filters, returns
    // files from the single selected o_year directory and nothing
    // else — and strictly fewer than the unfiltered listing
    // (VERDICT r15 #7; df.inputFiles can't show this, it lists the
    // whole relation)
    val scan = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pruned = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).flatMap(_.files)
    val all = scan.relation.location.listFiles(Nil, Nil).flatMap(_.files)
    assert(pruned.nonEmpty)
    assert(pruned.forall(_.getPath.toString.contains("o_year=1997")),
      s"scan reads outside the pruned partition: ${pruned.map(_.getPath).take(3).mkString(", ")}")
    assert(pruned.size < all.size,
      s"pruning selected all ${all.size} files — nothing was pruned")
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    // Hive's DynamicPartitionPruningOptimization (Tez) — in Spark the
    // PartitionPruning rule plants a DynamicPruningExpression on the
    // partitioned fact scan, fed by the broadcast dim's join keys, so
    // at 100 TB a star join reads only the partitions the filtered
    // dimension selects (SURVEY §4.1 PartitionPruner row)
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.Scans
    Scans.queries("scan_partitioned")(spark, sf).count() // partitioned copy exists
    val fact = spark.read.parquet(Scans.ioDir("scan_partitioned", sf))
    // the dim must be a REAL scan: a LocalRelation dim gets its filter
    // constant-folded away, and without a selective predicate the
    // PartitionPruning rule never fires
    val dimPath = s"${sys.props("java.io.tmpdir")}/graft_scanspec/dpp_dim.parquet"
    Seq((1997, "pick"), (1901, "skip")).toDF("dim_year", "t")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter(col("t") === "pick") // the selective predicate DPP requires
    val joined = fact.join(broadcast(dim), col("o_year") === col("dim_year"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruningExpression on the fact scan:\n$plan")
  }

  test("join_bucketed: co-bucketed tables join with ZERO exchanges in the executed plan") {
    import graft.operators.Scans
    val joined = Scans.bucketedJoin(spark, sf)
    assert(joined.count() > 0)
    val plan = joined.queryExecution.executedPlan.toString
    // no Exchange of any kind — hash, range, or broadcast: the
    // bucketed scans alone satisfy the join's distribution requirement
    assert(!plan.contains("Exchange"), s"shuffle in the bucketed join plan:\n$plan")
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Bucketed: true"), plan)
    // and the keyed query agrees with the plain unbucketed join
    val keyed = Scans.queries("join_bucketed")(spark, sf)
    val plain = Tables.t(spark, sf, "lineitem").filter(col("l_orderkey") < 2000)
      .join(Tables.t(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
    assert(keyed.count() === plain.count())
  }

  test("bucket pruning: an equality filter on the bucket column selects 1 of 4 buckets") {
    import graft.operators.Scans
    Scans.bucketedJoin(spark, sf).count() // ensures the tables exist
    // the auto-bucketed-scan heuristic drops the bucketed layout for a
    // filter-only query (no interesting partitioning requirement),
    // which also drops bucket pruning — pin it on for the assert
    val prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = spark.table(Scans.bucketedTable("graft_bkt_lineitem", sf))
        .filter(col("l_orderkey") === 42)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket pruning missing from the plan:\n$plan")
    } finally spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("sample_bucket: deterministic, partitions the table, and matches the physical bucket files") {
    import graft.operators.Scans
    val one = Scans.queries("sample_bucket")(spark, sf)
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // deterministic: a pure function of the key, not a seeded RNG
    assert(key(one) === key(Scans.queries("sample_bucket")(spark, sf)))
    // the 4 buckets are disjoint and cover the table exactly
    val base = Tables.t(spark, sf, "lineitem")
    val total = base.count()
    val bucketCounts = (0 until 4).map { b =>
      base.filter(pmod(hash(col("l_orderkey")), lit(4)) === b).count()
    }
    assert(bucketCounts.sum === total, s"buckets don't partition: $bucketCounts vs $total")
    assert(bucketCounts.forall(_ > 0), s"degenerate bucket split: $bucketCounts")
    // membership is the WRITER's hash: the sampled keys (restricted to
    // the saved table's subset) are exactly the keys in the bucket-1
    // files Spark wrote for graft_bkt_lineitem
    Scans.bucketedJoin(spark, sf).count() // ensures the tables exist
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val b1Files = new java.io.File(s"$wh/${Scans.bucketedTable("graft_bkt_lineitem", sf)}").listFiles()
      .filter(f => f.getName.matches("part-.*_00001\\.c.*\\.parquet"))
      .map(_.getAbsolutePath)
    assert(b1Files.nonEmpty, "no bucket-1 files found in the warehouse table")
    val physical = spark.read.parquet(b1Files: _*)
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    val sampled = one.filter(col("l_orderkey") < 2000)
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    assert(sampled === physical,
      s"sample/bucket mismatch: onlySampled=${(sampled -- physical).take(5)} onlyPhysical=${(physical -- sampled).take(5)}")
  }

  test("co-bucketed tables join without a shuffle (SMB join)") {
    val spark2 = spark
    import spark2.implicits._
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("graft_bkt_a", "graft_bkt_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$t"))
    }
    val src = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    src.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("graft_bkt_a")
    src.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("graft_bkt_b")
    // the test tables are tiny, so disable auto-broadcast to expose
    // the bucketed path (at real scale both sides exceed the
    // threshold and this is the plan bucketing exists for)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bkt_a").as("a")
        .join(spark.table("graft_bkt_b").as("b"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("MSCK REPAIR TABLE discovers partition directories an external producer added") {
    // the classic Hive operational recovery: files land in a new
    // partition directory outside the engine (a different writer, a
    // backfill job), and MSCK REPAIR / recoverPartitions registers
    // them in the catalog
    val spark2 = spark
    import spark2.implicits._
    val loc = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_scanspec/msck_tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(loc)
    spark.sql("DROP TABLE IF EXISTS graft_msck")
    // partition p=1 written through the engine
    Seq((1L, 1), (2L, 1)).toDF("id", "p")
      .write.partitionBy("p").parquet(loc.getAbsolutePath)
    spark.sql(
      s"""CREATE TABLE graft_msck (id BIGINT) USING parquet
         |PARTITIONED BY (p INT) LOCATION '${loc.getAbsolutePath}'""".stripMargin)
    spark.sql("MSCK REPAIR TABLE graft_msck")
    assert(spark.table("graft_msck").count() === 2)
    // partition p=2 dropped in from OUTSIDE the catalog
    Seq(3L, 4L, 5L).toDF("id")
      .write.parquet(s"${loc.getAbsolutePath}/p=2")
    spark.sql("MSCK REPAIR TABLE graft_msck")
    assert(spark.table("graft_msck").count() === 5)
    val parts = spark.sql("SHOW PARTITIONS graft_msck")
      .collect().map(_.getString(0)).toSet
    assert(parts === Set("p=1", "p=2"), parts.toString)
  }

  test("compression codecs roundtrip losslessly and actually apply (snappy/zstd/gzip)") {
    // Hive's hive.exec.compress.output surface: the codec is a file
    // property, not a semantic one — row sets must be identical under
    // every codec and the part files must really carry the codec
    val src = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val baseSum = src.agg(sum(col("o_orderkey"))).head.getLong(0)
    val ext = Map("snappy" -> "snappy", "zstd" -> "zstd", "gzip" -> "gz")
    for (codec <- Seq("snappy", "zstd", "gzip")) {
      val out = new java.io.File(
        s"${sys.props("java.io.tmpdir")}/graft_scanspec/codec_$codec")
      org.apache.commons.io.FileUtils.deleteQuietly(out)
      src.write.option("compression", codec).parquet(out.getAbsolutePath)
      val back = spark.read.parquet(out.getAbsolutePath)
      assert(back.count() === src.count(), codec)
      assert(back.agg(sum(col("o_orderkey"))).head.getLong(0) === baseSum, codec)
      val dataFiles = out.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.nonEmpty && dataFiles.forall(_.getName.contains(s".${ext(codec)}.")),
        s"$codec not in part-file names: ${dataFiles.map(_.getName).mkString(", ")}")
    }
  }

  test("join_null_safe: the null-key block joins under <=> and is exactly what a plain join loses") {
    val nullSafe = operators.Joins.queries("join_null_safe")(spark, sf)
    val nullBlock = nullSafe.filter(col("k_a").isNull).count()
    assert(nullBlock > 0, "null-keyed rows must cross-match for this key to bite")
    // SAME side frames as the operator (shared helper): a tuned
    // subset in Joins.scala must not silently desynchronize this
    // plain-join baseline
    val (a, b) = operators.Joins.nullSafeSides(spark, sf)
    val plain = a.join(b, a("k") === b("k")).count()
    assert(nullSafe.count() === plain + nullBlock,
      "plain = loses exactly the null-key block that <=> keeps")
    // and it plans as a real equi-join (hash/merge), never a nested loop
    val plan = nullSafe.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ANALYZE TABLE stats reach the catalog and the optimizer (Hive metastore-stats role)") {
    // Hive's ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS] +
    // hive.cbo.enable surface: stats land in the catalog (ndv,
    // min/max) and, with CBO on, the optimizer sees the exact
    // rowCount — the input join-reorder and broadcast decisions
    // consume at 100 TB
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    spark.sql("DROP TABLE IF EXISTS graft_stats")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/graft_stats"))
    val n = Tables.t(spark, sf, "customer").count()
    Tables.t(spark, sf, "customer").write.saveAsTable("graft_stats")
    spark.sql("ANALYZE TABLE graft_stats COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE graft_stats COMPUTE STATISTICS FOR COLUMNS c_custkey, c_mktsegment")
    val colStats = spark.sql("DESCRIBE EXTENDED graft_stats c_custkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // ndv comes from a HyperLogLog++ estimate (ndv.maxError 0.05):
    // exact equality only holds by luck at tiny cardinalities, so
    // bound it like the sketch specs do
    val ndv = colStats("distinct_count").toLong
    assert(math.abs(ndv - n) <= math.max(1, (0.05 * n).toLong),
      s"ndv of the unique key must track the row count: ndv=$ndv n=$n")
    assert(colStats("min").toLong >= 0 && colStats("max").toLong > 0)
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft_stats").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(n)),
        s"optimizer must see the analyzed rowCount, got $stats")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("csv/json/orc roundtrips preserve row counts and values") {
    import graft.operators.Scans
    val base = Tables.t(spark, sf, "orders").count()
    for (key <- Seq("scan_csv", "scan_json_file", "scan_orc")) {
      val rt = Scans.queries(key)(spark, sf)
      assert(rt.count() === base, key)
    }
  }

  test("AQE re-plans at runtime: shuffle reads are adaptive after execution") {
    val df = Tables.raw(spark, sf, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    df.collect() // AQE finalizes the plan only at execution
    // AQEShuffleRead alone: "AdaptiveSparkPlan" appears in ANY executed
    // plan whenever AQE is on, so it would pass without any runtime
    // re-planning having happened (ADVICE r15)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead"),
      s"no adaptive shuffle re-planning in the executed plan:\n$plan")
  }

  test("AQE skew join: a runtime-skewed partition is split (skew=true in the executed plan)") {
    // the AUTOMATIC twin of join_skew_salted's manual salting:
    // OptimizeSkewedJoin detects an oversized shuffle partition at
    // runtime and splits it — at 100 TB this is the first line of
    // defense before anyone reaches for a manual salt. Thresholds are
    // scaled down to make the tiny fixture's hot key register as skew.
    val spark2 = spark
    import spark2.implicits._
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.get(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 50k rows on ONE key vs 100 spread over the rest: the hot
      // key's partition dwarfs the median after the shuffle
      val left = spark.range(50000).select(lit(7L).as("k"), col("id").as("v"))
        .union(spark.range(100).select((col("id") % 50 + 100).as("k"), col("id").as("v")))
      val right = spark.range(200).select(col("id").as("k"), col("id").as("w"))
      val joined = left.join(right, "k")
      joined.collect() // executes THIS plan; count() would finalize a different one
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("runtime bloom-filter semijoin reduction filters the probe side before the shuffle") {
    // Hive's dynamic semijoin reduction (`hive.tez.dynamic.semijoin
    // .reduction`: the dim side's join keys are bloom-filtered onto
    // the fact scan so non-joining fact rows die BEFORE the shuffle)
    // is Spark's InjectRuntimeFilter, ON by default in 4.x
    // (`spark.sql.optimizer.runtime.bloomFilter.enabled`). The fact
    // side must look ≥ applicationSideScanSizeThreshold (10 GB
    // default — exactly the 100 TB regime); scaled down here so the
    // tiny fixture qualifies. Broadcast is disabled because a
    // broadcast join already hash-probes the dim — the bloom filter
    // targets the shuffle-join path where the fact would otherwise be
    // shuffled in full.
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") === "true",
      "runtime bloom filters must be on by default")
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.get(k)).toMap
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def q() = spark.read.parquet(privateLineitem)
        .join(spark.read.parquet(s"$sf/orders.parquet")
            .filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"))
      val withFilter = q()
      val opt = withFilter.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"no runtime bloom filter was injected on the probe side:\n$opt")
      val got = withFilter.collect().toSet
      // the reduction is a pure pre-filter: result identical without it
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      try assert(got === q().collect().toSet)
      finally spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("exchange reuse: two aggregations over one shuffle scan share a single exchange") {
    // self-union of two aggregates over the same shuffled child: the
    // second branch must read the FIRST branch's shuffle output
    // (ReusedExchange), not recompute the scan+shuffle — at 100 TB
    // that is an entire pass over the fact table saved. Private copy:
    // if another suite cached lineitem, CacheManager substitutes an
    // InMemoryRelation whose per-branch attribute ids defeat AQE's
    // canonicalized stage-reuse (observed: two separate
    // ShuffleQueryStages over TableCacheQueryStage)
    val grouped = spark.read.parquet(privateLineitem)
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    val twice = grouped.filter(col("q") > 100).union(grouped.filter(col("q") <= 100))
    twice.collect() // executes THIS plan; count() would finalize a different one
    val plan = twice.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedShuffle"),
      s"no exchange reuse in the executed plan:\n$plan")
  }

  test("salted skew join: shuffle keys carry the salt, no broadcast, rows identical to plain join") {
    val salted = operators.Joins.queries("join_skew_salted")(spark, sf)
    val plan = salted.queryExecution.executedPlan.toString
    // the scale property: the join really shuffles on (key, salt) —
    // a broadcast would bypass the skew the salt exists to spread
    assert(!plan.contains("BroadcastHashJoin"), "salted join must not broadcast")
    assert(plan.contains("salt"), "salt column missing from the executed plan")
    // semantics-preservation: identical to the plain unsalted join
    val plain = Tables.t(spark, sf, "lineitem")
      .join(Tables.t(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1) - col("l_discount").cast("decimal(18,2)"))))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
    assert(key(salted) === key(plain))
  }

  test("graft-regex DSv2 source: custom scan node, filter pushdown, pruning, SerDe nulls") {
    val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_scanspec/regex")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    java.nio.file.Files.writeString(dir.toPath.resolve("part-0.txt"),
      "1|A|10.5\n2|B|20.25\nthis line has no pipes\n3|C|notanumber\n")
    def read() = spark.read.format("graft-regex")
      .schema(operators.Scans.serdeSchema)
      .option("regex", operators.Scans.serdeRegex)
      .load(dir.getAbsolutePath)

    // the custom scan node is in the executed plan
    val plain = read()
    val plainPlan = plain.queryExecution.executedPlan.toString
    assert(plainPlan.contains("GraftRegexScan"), plainPlan)

    // RegexSerDe null semantics: a non-matching line is an all-NULL
    // row, a failed group cast is a NULL column
    val rows = plain.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.length === 4)
    assert(rows.contains((-1L, None, None)), "garbage line must be all-NULL")
    assert(rows.exists(r => r._1 == 3L && r._2.contains("C") && r._3.isEmpty),
      "failed cast must null ONLY that column")

    // filter pushdown: the comparison reaches the scan and is exact
    val filtered = read().filter(col("o_orderkey") > 1)
    val fPlan = filtered.queryExecution.executedPlan.toString
    assert(fPlan.contains("GreaterThan(o_orderkey,1"), fPlan)
    assert(filtered.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L),
      "pushdown must drop the all-NULL and key-1 rows inside the reader")

    // column pruning: a narrow projection narrows the scan's ReadSchema
    val pruned = read().select(col("o_orderstatus"))
    val pPlan = pruned.queryExecution.executedPlan.toString
    assert(pPlan.contains("ReadSchema: struct<o_orderstatus:string>"), pPlan)

    // cross-check vs the retained expression form on well-formed lines
    // (on NON-matching lines the forms deliberately diverge: the DSv2
    // reader gives Hive's all-NULL row, regexp_extract gives "")
    val wellFormed = new java.io.File(dir, "wf")
    wellFormed.mkdirs()
    java.nio.file.Files.writeString(wellFormed.toPath.resolve("part-0.txt"),
      "1|A|10.5\n2|B|20.25\n3|C|7.125\n")
    val viaDsv2 = spark.read.format("graft-regex")
      .schema(operators.Scans.serdeSchema)
      .option("regex", operators.Scans.serdeRegex)
      .load(wellFormed.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val viaExpr = operators.Scans.regexExpressionRead(spark, wellFormed.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaDsv2 === viaExpr)
  }

  test("graft-regex works as a SQL DDL table (CREATE TABLE ... USING), like a Hive SerDe table") {
    val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_scanspec/regex_ddl")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    java.nio.file.Files.writeString(dir.toPath.resolve("part-0.txt"),
      "1|A|10.5\n2|B|20.25\n3|C|7.125\n")
    spark.sql("DROP TABLE IF EXISTS g_regex_tbl")
    spark.sql(
      s"""CREATE TABLE g_regex_tbl
         |  (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
         |USING `graft-regex`
         |OPTIONS (regex '^([^|]*)\\\\|([^|]*)\\\\|(.*)$$',
         |         path '${dir.getAbsolutePath}')""".stripMargin)
    try {
      val got = spark.sql(
        "SELECT o_orderkey, o_totalprice FROM g_regex_tbl WHERE o_orderkey > 1 ORDER BY o_orderkey")
      assert(got.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
        Seq((2L, 20.25), (3L, 7.125)))
      // the catalog table plans through the same pushing scan
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("GraftRegexScan"), plan)
      assert(plan.contains("GreaterThan(o_orderkey,1"), plan)
    } finally spark.sql("DROP TABLE IF EXISTS g_regex_tbl")
  }

  test("graft-regex byte-range splits partition on line boundaries, any split size") {
    val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_scanspec/regex_split")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    // 200 variable-length lines so boundaries land mid-line, on
    // newlines, and at line starts across the sampled split sizes
    val body = (1 to 200).map(k => s"$k|s${"x" * (k % 7)}|$k.25").mkString("\n") + "\n"
    java.nio.file.Files.writeString(dir.toPath.resolve("part-0.txt"), body)
    def read(splitBytes: Option[Long]) = {
      val r = spark.read.format("graft-regex")
        .schema(operators.Scans.serdeSchema)
        .option("regex", operators.Scans.serdeRegex)
      splitBytes.fold(r)(sb => r.option("splitBytes", sb.toString))
        .load(dir.getAbsolutePath)
    }
    val whole = read(None).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(whole.size === 200)
    for (sb <- Seq(7L, 64L, 131L, 1024L, 100000L)) {
      val df = read(Some(sb))
      val got = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(got.length === 200, s"splitBytes=$sb dropped or duplicated lines")
      assert(got.toSet === whole, s"splitBytes=$sb changed the row set")
      if (sb < body.length)
        assert(df.rdd.getNumPartitions > 1,
          s"splitBytes=$sb must yield multiple byte-range partitions")
    }
  }

  test("sink_sorted_layout: a sorted layout's row groups are skipped, a scrambled one's are not") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_scanspec/sorted_layout"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // DATE, not the raw TIMESTAMP_NTZ: NTZ predicates are listed in
    // PushedFilters but never evaluated against row-group stats
    // (measured r17: NTZ surfaced 1500/1500 rows where DATE read
    // 300), so a layout sorted on an NTZ column skips NOTHING —
    // exactly the silent trap this test exists to catch
    val src = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"))
    // tiny row groups so the sf0.001 table holds MANY of them — at
    // real scale the default 128 MiB groups play this role
    def write(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
      df.coalesce(1).write
        .option("parquet.block.size", "4096")
        .option("parquet.page.size", "1024")
        .mode("overwrite").parquet(s"$base/$dir")
    write(src.sort(col("o_date")), "sorted")
    write(src.sort(hash(col("o_orderkey"))), "scrambled")

    // rows the READER surfaces = rows in row groups the pushed
    // min/max predicate could not skip
    def scanRows(dir: String): Long = {
      val df = spark.read.parquet(s"$base/$dir")
        .filter(col("o_date").between("1995-01-01", "1995-06-30"))
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .find(_.getClass.getSimpleName.contains("FileSourceScan")).get
      scan.metrics("numOutputRows").value
    }
    val total = src.count()
    val (sorted, scrambled) = (scanRows("sorted"), scanRows("scrambled"))
    // same result either way (layout is semantics-preserving) ...
    def filtered(dir: String): Set[Long] =
      spark.read.parquet(s"$base/$dir")
        .filter(col("o_date").between("1995-01-01", "1995-06-30"))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(filtered("sorted") === filtered("scrambled"))
    // ... but the sorted layout's scan skipped most row groups while
    // the scrambled one read essentially the whole file: every one of
    // its row groups spans the full date range, so min/max prunes none
    assert(sorted < total / 2, s"sorted=$sorted total=$total")
    assert(scrambled > total / 2, s"scrambled=$scrambled total=$total")
    assert(sorted < scrambled / 2, s"sorted=$sorted scrambled=$scrambled")
  }

  test("sink_zorder_layout: BOTH dimensions skip; a single-key sort only serves its own") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_scanspec/zorder_layout"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // lineitem, not orders: z-order trades single-dimension depth for
    // two-dimension breadth, so the proof needs ENOUGH row groups for
    // the curve's squares to be finer than the filter bands — 6,000
    // rows over 4 KiB groups gives a usable grid where 1,500 does not
    val src = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), (col("l_orderkey") % 1000).as("o_custkey"),
        to_date(col("l_shipdate")).as("o_date"))
    val r = src.agg(min(col("o_custkey")), max(col("o_custkey")),
      min(datediff(col("o_date"), lit("1970-01-01"))),
      max(datediff(col("o_date"), lit("1970-01-01")))).head
    val (cMin, cMax) = (r.getLong(0), r.getLong(1))
    val z = operators.Scans.zorder16(
      operators.Scans.bucket16(col("o_custkey"), cMin, cMax),
      operators.Scans.bucket16(
        datediff(col("o_date"), lit("1970-01-01")).cast("long"),
        r.getInt(2).toLong, r.getInt(3).toLong))
    // tiny row groups so the sf0.001 table holds MANY of them — at
    // real scale the default 128 MiB groups play this role
    def write(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
      df.coalesce(1).write
        .option("parquet.block.size", "4096")
        .option("parquet.page.size", "1024")
        .mode("overwrite").parquet(s"$base/$dir")
    write(src.withColumn("z", z).sort(col("z")).drop("z"), "zorder")
    write(src.sort(col("o_date")), "datesorted")
    write(src.sort(hash(col("l_orderkey"))), "scrambled")
    // a selective band in each dimension (an eighth of the key range,
    // half a year of the seven-year date span)
    val custBand = col("o_custkey") <= cMin + (cMax - cMin) / 8
    val dateBand = col("o_date").between("1995-01-01", "1995-06-30")
    def scanRows(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(s"$base/$dir").filter(pred)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .find(_.getClass.getSimpleName.contains("FileSourceScan")).get
        .metrics("numOutputRows").value
    }
    val total = src.count()
    // layouts are semantics-preserving: same filtered rows everywhere
    // (sorted multiset — l_orderkey repeats across line numbers)
    def rows(dir: String, pred: org.apache.spark.sql.Column): Seq[String] =
      spark.read.parquet(s"$base/$dir").filter(pred)
        .collect().map(_.mkString("|")).toSeq.sorted
    for (pred <- Seq(custBand, dateBand)) {
      assert(rows("zorder", pred) === rows("scrambled", pred))
      assert(rows("datesorted", pred) === rows("scrambled", pred))
    }
    // the z-ordered layout prunes row groups for EITHER dimension; the
    // scrambled copy reads essentially everything for both; the
    // date-sorted copy serves its own key but NOT the other dimension
    // (every row group spans the full custkey range)
    val zCust = scanRows("zorder", custBand)
    val zDate = scanRows("zorder", dateBand)
    val sCust = scanRows("scrambled", custBand)
    val sDate = scanRows("scrambled", dateBand)
    val dCust = scanRows("datesorted", custBand)
    val dDate = scanRows("datesorted", dateBand)
    assert(zCust < total / 2, s"zorder custkey band must skip: $zCust of $total")
    assert(zDate < total / 2, s"zorder date band must skip: $zDate of $total")
    assert(sCust > total / 2 && sDate > total / 2,
      s"scrambled must read ~everything: $sCust/$sDate of $total")
    assert(dDate < total / 2, s"date-sorted serves its own key: $dDate of $total")
    assert(dCust > total / 2,
      s"date-sorted must NOT serve the custkey band: $dCust of $total — " +
        "if it does, the z-order claim proves nothing here")
    assert(zCust < dCust / 2,
      s"zorder=$zCust vs datesorted=$dCust on the custkey band")
  }

  test("sink_multi_insert: both sinks read the one materialization, not a second scan") {
    val out = s"${sys.props("java.io.tmpdir")}/graft_scanspec/multi_insert"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val (hiDir, loDir, staged) = operators.Scans.multiInsert(spark, sf, out)
    // the staged source is a checkpoint RDD: any consumer's physical
    // plan scans the materialized blocks (ExistingRDD), never the
    // orders parquet again — this IS Hive multi-insert's single-scan
    // contract, so a FileScan here would mean the fan-out silently
    // degenerated into N full source scans
    for (sink <- Seq(
        staged.filter(col("price") >= 300000),
        staged.filter(col("price") < 300000)
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))) {
      val plan = sink.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD"), plan)
      assert(!plan.contains("FileScan"), plan)
    }
    // and the fan-out really diverged: row-level sink vs aggregate sink
    val hi = spark.read.parquet(hiDir)
    val lo = spark.read.parquet(loDir)
    val nOrders = Tables.t(spark, sf, "orders").count()
    assert(hi.count() + lo.agg(sum(col("n"))).head.getLong(0) === nOrders)
    assert(lo.count() === lo.select(col("o_orderpriority")).distinct().count())
  }
}
