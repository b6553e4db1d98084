package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10×-scale smoke for the dedup path: replicate the sf0.1 corpus
  * `factor` times (50k docs at the default 10) under a PER-REPLICA
  * VOCABULARY RENAMING (every token prefixed with the replica id — a
  * bijection of the vocab), so within a replica every pairwise
  * Jaccard is EXACTLY the original's (renaming both sides of every
  * pair) and across replicas the overlap is zero. True pair count is
  * therefore exactly factor × the sf0.1 pair count, and the
  * banded-minhash join must scale linearly with it — this main
  * measures exactly that, the empirical "would the plan survive 10×"
  * datapoint the 100 TB story rests on.
  * Usage: runMain graft.ScaleSmoke [text|vec|stream] [factor] [sfDir]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("text")
    val factor = if (args.length > 1) args(1).toInt else 10
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    if (mode == "vec") { vecSmoke(spark, sfDir, factor); spark.stop(); return }
    if (mode == "stream") { streamSmoke(spark, sfDir, factor); spark.stop(); return }
    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    val base = docs.count()
    val big = (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        concat(lit(s"r${i}_"),
          regexp_replace(col("text"), " ", s" r${i}_")).as("text"))
    }.reduce(_ unionAll _).repartition(cpus).cache()
    val n = big.count() // materialize the synthetic corpus outside the timing
    val t0 = System.nanoTime()
    val pairs = api.TextOps.minhashNearDupPairs(big, "doc_id", "text", tau = 0.95).count()
    val sec = (System.nanoTime() - t0) / 1e9
    // reference point: the same pipeline on the unreplicated corpus
    val t1 = System.nanoTime()
    val basePairs = api.TextOps.minhashNearDupPairs(docs, "doc_id", "text", tau = 0.95).count()
    val baseSec = (System.nanoTime() - t1) / 1e9
    println(f"SCALESMOKE docs=$n (${factor}x$base) pairs=$pairs " +
      f"sec=$sec%.2f | base docs=$base pairs=$basePairs sec=$baseSec%.2f | " +
      f"pair_ratio=${pairs.toDouble / basePairs}%.2f time_ratio=${sec / baseSec}%.2f")
    spark.stop()
  }

  /** ANN scale smoke: replicate the embeddings corpus with a small
    * per-replica deterministic shift (keeps vectors distinct and adds
    * cluster-ish structure — realistic for an IVF), then measure
    * ivfTopK wall time AND recall vs the exact brute force at 1× and
    * `factor`×. The claim under test: IVF query cost grows ~linearly
    * with the corpus (cells get fuller, the probe set scans a bounded
    * fraction) and recall does not collapse as cells fill. */
  private def vecSmoke(spark: SparkSession, sfDir: String, factor: Int): Unit = {
    val emb = Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val base = emb.count()
    val big = (0 until factor).map { i =>
      emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        transform(col("embedding"), x => x + lit(i * 0.013f)).as("embedding"))
    }.reduce(_ unionAll _).repartition(32).cache()
    val n = big.count()
    def run(corpus: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val probes = corpus.filter(col("vec_id") < 10)
      val t0 = System.nanoTime()
      val approx = api.VectorOps.ivfTopK(corpus, probes, "vec_id", "embedding", k = 5)
        .select("pid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivfSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val exact = api.VectorOps.cosineTopK(corpus, probes, "vec_id", "embedding", k = 5)
        .select("pid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteSec = (System.nanoTime() - t1) / 1e9
      val recall = (approx intersect exact).size.toDouble / exact.size
      println(f"SCALESMOKE_VEC $label n=${corpus.count()} ivf_sec=$ivfSec%.2f " +
        f"brute_sec=$bruteSec%.2f recall@5=$recall%.3f")
    }
    run(emb, s"base(1x$base)")
    run(big, s"big(${factor}x$base=$n)")
  }

  /** Streaming scale smoke: synthesize a 10× events table (each
    * replica's timeline shifted +40 days, user ids offset so state
    * key cardinality ALSO grows 10×) into a scratch sfDir shaped like
    * the testdata layout, then drive two declared stream keys — the
    * watermarked tumbling agg and the transformWithState running
    * count — through the same in-place `Tables.stream` read as the
    * declared keys, at 1× and `factor`×. The claim under test: micro-batch wall time scales
    * ~linearly with input while watermark-bounded state never
    * explodes (output rows ≈ factor × base for both topologies). */
  private def streamSmoke(spark: SparkSession, sfDir: String, factor: Int): Unit = {
    import org.apache.spark.sql.SaveMode
    val ev = Tables.t(spark, sfDir, "events")
    val base = ev.count()
    val scratch = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_scale_stream_sf")
    org.apache.commons.io.FileUtils.deleteQuietly(scratch)
    scratch.mkdirs()
    val big = (0 until factor).map { i =>
      ev.select(
        (col("event_id") + lit(i * 100000000L)).as("event_id"),
        (col("ts") + expr(s"INTERVAL ${i * 40} DAYS")).as("ts"),
        (col("user_id") + lit(i * 1000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
    val tmpOut = new java.io.File(scratch, "write_tmp")
    Q.withConf(spark, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      big.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmpOut.getAbsolutePath)
    }
    val part = tmpOut.listFiles().find(_.getName.endsWith(".parquet")).get
    org.apache.commons.io.FileUtils.copyFile(
      part, new java.io.File(scratch, "events.parquet"))
    // the stream lists the scratch dir: leave only table files there
    org.apache.commons.io.FileUtils.deleteQuietly(tmpOut)
    def run(dir: String, label: String): Unit = {
      for (key <- Seq("stream_tumbling", "stream_stateful_count")) {
        val t0 = System.nanoTime()
        val rows = streaming.Streams.queries(key)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALESMOKE_STREAM $label $key rows=$rows sec=$sec%.2f")
      }
    }
    run(sfDir, s"base(1x$base)")
    run(scratch.getAbsolutePath, s"big(${factor}x$base)")
  }
}
