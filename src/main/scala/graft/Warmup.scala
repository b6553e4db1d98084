package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** JMH-style JVM warmup for the bench mains: exercise the interpreter,
  * Janino codegen, shuffle, window, higher-order-function, custom
  * kernel, and streaming micro-batch machinery ONCE on tiny synthetic
  * in-memory data, so first-touch compiler cost is not charged to
  * whichever measured query happens to run first (measured: the first
  * HOF-heavy dedup query pays ~12 s of JIT/codegen cold vs ~1.5 s
  * steady-state). Input tables are deliberately NOT touched — scan,
  * decode, and data-dependent costs all stay inside the measurements.
  */
object Warmup {
  def run(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.functions.Graft.registerAll(spark)
    val w = spark.range(256).selectExpr(
      "id", "cast(id % 7 as string) k",
      "array(cast(id as string), cast(id + 1 as string)) sarr",
      "array(cast(id as double), cast(id + 1 as double)) varr")
    // aggregate + sort shuffle, codegen'd agg
    w.groupBy($"k").count().orderBy($"k").count()
    // sort-merge / broadcast join paths
    w.as("a").join(w.as("b"), "k").count()
    // window machinery
    w.selectExpr("row_number() over (partition by k order by id) rn").count()
    // higher-order functions (interpreted eval path) + multi-arg hash
    w.selectExpr(
      "transform(sarr, t -> hash(1, t)) th",
      "array_min(transform(sarr, t -> hash(2, t))) mn",
      "aggregate(varr, 0.0D, (acc, x) -> acc + x) ag").count()
    // custom codegen'd kernels
    w.selectExpr("vec_dot(varr, varr) d",
      "sorted_jaccard_min(sarr, sarr, 0.5D) j").count()
    // exact-dedup hash shape: sha2 over lower(trim(..)) + groupBy(hash)
    // min/count + a global sort — llm_dedup_exact_text paid ~1.2 s of
    // first-use cost for exactly this chain (measured r22: 1.6 s first
    // exec vs 0.35 s steady in one JVM, with codegen 58 ms and GC 51 ms
    // — the rest is C2 JIT of the digest/UTF8String path, which needs
    // CALL VOLUME, not just the compiled shape; 20k synthetic rows get
    // the hot loop past the compile threshold in ~0.3 s)
    spark.range(20000)
      .selectExpr("sha2(cast(lower(trim(concat('  doc ', id, ' text body  '))) as binary), 256) h", "id")
      .groupBy($"h").agg(
        org.apache.spark.sql.functions.min($"id"),
        org.apache.spark.sql.functions.count($"id"))
      .orderBy($"h").count()
    // sketch aggregates run on the ObjectHashAggregate path, whose
    // first use costs ~1.5 s of class-load/codegen (measured:
    // agg_approx_distinct 1.8 s cold vs 0.13 s warm) — compile it
    // here like every other engine shape; the measured query still
    // pays all scan + sketch-merge work on real data
    w.selectExpr("approx_count_distinct(k) ad",
      "percentile_approx(cast(id as double), 0.5, 100) pa").count()
    // streaming micro-batch + state-store machinery
    val ms = MemoryStream[Long](spark)
    ms.addData(1L to 64L: _*)
    val q = ms.toDF().groupBy($"value" % 8).count()
      .writeStream.outputMode("complete").format("noop").start()
    q.processAllAvailable(); q.stop()
    // the OTHER streaming machinery families, same tiny-synthetic
    // policy (r16 plan audit: ~19 s of suite total was the streaming
    // keys' fixed machinery cost — microbatch planner, watermark
    // tracking, join/session state stores, RocksDB provider — all
    // first-use compile/class-load, none of it per-row work):
    // watermarked APPEND event-time window
    import org.apache.spark.sql.functions.{expr, timestamp_seconds, window => fwindow}
    val wm = MemoryStream[Long](spark)
    wm.addData(0L, 60L, 7200L)
    val wq = wm.toDF().select(timestamp_seconds($"value").as("ts"))
      .withWatermark("ts", "10 minutes")
      .groupBy(fwindow($"ts", "1 hour")).count()
      .writeStream.outputMode("append").format("noop").start()
    wq.processAllAvailable(); wq.stop()
    // stream-stream interval join (per-side join state stores)
    val jl = MemoryStream[Long](spark)
    val jr = MemoryStream[Long](spark)
    jl.addData(1L, 2L); jr.addData(1L, 2L)
    val lhs = jl.toDF().select($"value".as("k"),
      timestamp_seconds($"value").as("lts")).withWatermark("lts", "1 minute")
    val rhs = jr.toDF().select($"value".as("k2"),
      timestamp_seconds($"value").as("rts")).withWatermark("rts", "1 minute")
    val jq = lhs.join(rhs, expr(
        "k = k2 AND rts BETWEEN lts - INTERVAL 1 MINUTE AND lts + INTERVAL 1 MINUTE"))
      .writeStream.outputMode("append").format("noop").start()
    jq.processAllAvailable(); jq.stop()
    // transformWithState under the RocksDB provider (the TWS keys'
    // store + timer machinery; conf scoped and restored)
    val tws = MemoryStream[(Long, Long)](spark)
    tws.addData((1L, 0L), (1L, 60L), (2L, 0L))
    val twsDs = tws.toDF().toDF("user_id", "secs")
      .select($"user_id", timestamp_seconds($"secs").as("ts"))
      .withWatermark("ts", "10 minutes")
      .as[(Long, java.sql.Timestamp)]
    Q.withConf(spark, graft.streaming.Streams.RocksDbProvider) {
      val tq = twsDs.groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.SessionTimers(30L * 60 * 1000000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF("user_id", "sstart", "send", "n")
        .writeStream.outputMode("append").format("noop").start()
      tq.processAllAvailable(); tq.stop()
    }
    // the dedup/similarity pipelines on a 3-row SYNTHETIC corpus: the
    // interpreted HOF signature path, band join, sorted-merge kernel,
    // fan-out joins, and the label-propagation loop all get their
    // Janino/JIT compilation here instead of inside the first measured
    // dedup query (~9 s cold vs ~1.5 s steady-state, measured)
    val docs = Seq((1L, "a b c d"), (2L, "a b c d e"), (3L, "x y z"))
      .toDF("doc_id", "text")
    graft.api.TextOps.minhashNearDupClusters(docs, "doc_id", "text", 0.5).count()
    // the simhash and shingle flavors compile DIFFERENT plan shapes
    // (per-bit simhash fold + hamming filter; n-gram window transform
    // and 10×3 banding) — without these two calls their first measured
    // run pays ~3.6 s of Janino/JIT (r7 BenchOne: simhash 5.01 s first
    // vs 1.42 s steady)
    graft.api.TextOps.simhashNearDupPairs(docs, "doc_id", "text",
      tau = 0.5, maxHamming = 8).count()
    graft.api.TextOps.ngramJaccardPairs(docs, "doc_id", "text", n = 2, tau = 0.5).count()
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    graft.api.VectorOps.cosineTopK(vecs, vecs, "vec_id", "embedding", 1).count()
    graft.api.VectorOps.ivfTopK(vecs, vecs, "vec_id", "embedding",
      k = 1, numCells = 2, nprobe = 1, sampleSize = 4).count()
    // the threshold-pair / embedding-cluster shapes compile DIFFERENT
    // plans from topK (block-grid self-join + CC solve; IVF cell-pair
    // join) — their first measured run otherwise pays the Janino/JIT
    // (r22 BenchOne: llm_dedup_embedding 1.17 s cold vs 0.76 s warm)
    graft.api.VectorOps.cosineNearDupClusters(vecs, "vec_id", "embedding", 0.5).count()
    graft.api.VectorOps.ivfThresholdPairs(
      graft.api.VectorOps.buildIvfIndex(vecs, "vec_id", "embedding",
        numCells = 2, sampleSize = 4), tau = 0.0, nprobe = 1).count()
    // materialized-view machinery on a 16-row synthetic fact in a
    // scratch dir: the FIRST parquet write of the session (datasource
    // write + commit protocol class-load/JIT), the MvRewrite rule, the
    // partition-dir listing, and the incremental partial-merge shapes
    // all cost first-use compile that was otherwise charged to
    // agg_mv_incremental (r22 BenchOne: 4.42 s cold vs 0.25 s warm;
    // 2.7 s charged in-suite where only the staging data work belongs).
    // Synthetic rows only — the real keys' staging, scans, and
    // aggregation all stay inside the measurements; the scratch
    // registry entry is dropped with the scratch dir, and the opt-in
    // conf is restored.
    val mvScratch = java.nio.file.Files.createTempDirectory("graft_warm_mv").toFile
    val factPath = s"${mvScratch.getAbsolutePath}/fact"
    try {
      val fact = spark.range(16).selectExpr("cast(id % 3 as string) k",
        "cast(id as decimal(18,2)) m", "cast(id % 2 as int) p")
      fact.filter($"p" === 0).write.mode("overwrite").partitionBy("p").parquet(factPath)
      val mv = graft.plans.MvRewrite.materializePartitioned(spark, "graft_warm_mv",
        factPath, "p", dims = Seq("k"), measures = Seq("m"),
        s"${mvScratch.getAbsolutePath}/mv")
      fact.filter($"p" === 1).write.mode("append").partitionBy("p").parquet(factPath)
      graft.plans.MvRewrite.rebuildIncremental(spark, mv)
      graft.plans.MvRewrite.install(spark)
      Q.withConf(spark, graft.plans.MvRewrite.EnabledKey -> "true") {
        spark.read.parquet(factPath).groupBy($"k")
          .agg(expr("sum(m)"), expr("count(1)"), expr("min(m)"),
            expr("max(m)"), expr("avg(m)")).count()
      }
    } finally {
      graft.plans.MvRewrite.unregister(spark, factPath)
      org.apache.commons.io.FileUtils.deleteQuietly(mvScratch)
    }
  }
}
