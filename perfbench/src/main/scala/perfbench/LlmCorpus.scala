package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.VectorOps

/** `llm_corpus`: the LLM data pipeline over K seeded corpora, visited
  * in turn. K = 5 exceeds the 4-slot collapse registry, so the first
  * dedup key on every corpus misses the shared collapse cache and the
  * later dedup flavors on the same corpus hit it.
  *
  * The untimed warm pass runs every key on two corpora and, on the
  * seed-chosen probe corpus (visited last in every pass), writes each
  * key's result for the DuckDB parity check and the recall check; the
  * timed visits of the probe must give those results' row counts. */
final class LlmCorpus(spark: SparkSession, runner: Runner, seed: Long,
    work: File) extends Workload {
  val name = "llm_corpus"

  /** Per corpus, in this order: the cold collapse build first, then the
    * flavors that reuse it, then the kernels and the IVF index. */
  val keys: Seq[String] = Seq("llm_dedup_minhash", "llm_dedup_simhash",
    "llm_dedup_clusters", "llm_decontam", "llm_dedup_exact_text",
    "llm_repetition_filter", "llm_sim_search_ivf")

  /** Key -> the TextOps call it wraps (its per-layer reading). */
  private val textOpsMetric = Map(
    "llm_dedup_exact_text" -> "textops.exact_groups_s",
    "llm_dedup_minhash" -> "textops.minhash_pairs_cold_s",
    "llm_dedup_simhash" -> "textops.simhash_pairs_s",
    "llm_dedup_clusters" -> "textops.clusters_s",
    "llm_decontam" -> "textops.contamination_s",
    "llm_repetition_filter" -> "textops.repetition_s")

  private val queries = graft.SparkEntry.queries
  private var corpora: Seq[Inputs.Corpus] = Nil
  private var probe: Inputs.Corpus = _
  private val parityOut = new File(work, "parity/llm").getPath
  private var docs = 0L
  private val seen = mutable.HashMap.empty[(String, Int), Long]
  var tablesLoadS = 0.0

  def prepare(): Unit = {
    val all = Inputs.corpora(work)
    val p = (seed % all.size).toInt
    corpora = all.drop(p + 1) ++ all.take(p + 1)
    probe = all(p)
    tablesLoadS = runner.seconds(corpora.foreach { c =>
      Seq("documents", "embeddings").foreach(t => graft.Tables.t(spark, c.dir, t).count())
    })._2
    docs = corpora.map(c => graft.Tables.t(spark, c.dir, "documents").count()).sum
  }

  /** Every pass must give each (key, corpus) the same row count. */
  private def consistent(key: String, c: Int)(rows: Long): Option[String] =
    seen.get((key, c)) match {
      case Some(prev) if prev != rows => Some(s"$key on corpus $c: $rows rows, earlier $prev")
      case Some(_) => None
      case None => seen((key, c)) = rows; None
    }

  private def runCorpus(c: Inputs.Corpus): Unit = keys.foreach { k =>
    runner.op(k, "key", "operators")(queries(k)(spark, c.dir))(consistent(k, c.index))
  }

  /** The last two corpora before the probe, then the probe: the
    * registry then holds neither of the first two the timed pass visits. */
  def warm(): Unit = {
    corpora.init.takeRight(2).foreach(runCorpus)
    Parity.write(spark, queries, keys, probe.dir, parityOut)
    Parity.rowCounts(spark, keys, parityOut).foreach { case (k, n) => seen((k, probe.index)) = n }
  }
  def pass(n: Int): Unit = corpora.foreach(runCorpus)
  override def docsPerPass: Long = docs

  /** IVF top-5 against exact cosine top-5 for ten probes. */
  private def ivfRecall(dir: String): Double = {
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top(VectorOps.cosineTopK(emb, probes, "vec_id", "embedding", k = 5))
    val approx = top(VectorOps.ivfTopK(emb, probes, "vec_id", "embedding", k = 5))
    (exact intersect approx).size.toDouble / math.max(1, exact.size)
  }

  def finish(traced: Boolean): WorkloadReport = {
    val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
    val r = mutable.LinkedHashMap.empty[String, Double]
    // recall of the injected (original, duplicate) pairs in the minhash
    // key's output on the probe corpus
    val pairs = scala.util.Try(spark.read.parquet(s"$parityOut/llm_dedup_minhash")
      .select("a", "b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet)
      .getOrElse(Set.empty)
    val injected = probe.injected.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val found = (injected intersect pairs).size
    val recall = found.toDouble / math.max(1, injected.size)
    r("dedup_recall") = recall
    checks += "dedup_recall" -> Option.when(recall < 0.9)(
      f"minhash found $found of ${injected.size} injected duplicate pairs ($recall%.3f < 0.9)")
    val ivf = ivfRecall(probe.dir)
    r("vectorops.ivf_recall") = ivf
    checks += "ivf_recall" -> Option.when(ivf < 0.8)(f"IVF top-5 recall $ivf%.3f < 0.8")

    val timed = runner.timed
    textOpsMetric.foreach { case (k, m) =>
      r(m) = Stats.median(timed.filter(_.name == k).map(_.wallS))
    }
    val passes = timed.map(_.pass).distinct.size
    r("textops.pairs_out") =
      timed.filter(_.name == "llm_dedup_minhash").map(_.rows).sum.toDouble / math.max(1, passes)
    if (traced) probes(probe, r)
    WorkloadReport(checks.toSeq, r.toMap, Seq(probe.dir -> parityOut))
  }

  /** Layer probes of the traced run: warm collapse reuse, kernel
    * throughput over SQL, and the IVF index life cycle. */
  private def probes(c: Inputs.Corpus, r: mutable.Map[String, Double]): Unit = {
    val last = corpora.last
    r("textops.minhash_pairs_warm_s") =
      runner.seconds(queries("llm_dedup_minhash")(spark, last.dir).count())._2
    r("textops.warm_over_cold") =
      r("textops.minhash_pairs_warm_s") / r("textops.minhash_pairs_cold_s")

    val docs = graft.Tables.t(spark, c.dir, "documents")
      .crossJoin(spark.range(20).withColumnRenamed("id", "rep")).cache()
    val vecs = graft.Tables.t(spark, c.dir, "embeddings")
      .crossJoin(spark.range(50).withColumnRenamed("id", "rep"))
      .selectExpr("transform(embedding, x -> cast(x as double)) AS v").cache()
    try {
      val nDocs = docs.count().toDouble
      val nVecs = vecs.count().toDouble
      def rate(n: Double, df: org.apache.spark.sql.DataFrame, e: String): Double =
        n / runner.seconds(df.selectExpr(s"sum($e)").collect())._2
      r("kernels.ngram_set_rows_per_s") = rate(nDocs, docs, "size(ngram_set(text, 3))")
      r("kernels.minhash_sig_rows_per_s") = rate(nDocs, docs, "hash(minhash_sig(token_set(text), 32))")
      r("kernels.simhash_sig_rows_per_s") = rate(nDocs, docs, "simhash_sig(token_set(text)) % 1000")
      r("kernels.vec_dot_rows_per_s") = rate(nVecs, vecs, "vec_dot(v, v)")
    } finally { docs.unpersist(); vecs.unpersist() }

    val emb = graft.Tables.t(spark, c.dir, "embeddings")
    val probeVecs = emb.filter(col("vec_id") < 10)
    val root = new File(work, "tables/ivf").getPath
    val (idx, buildS) = runner.seconds {
      val i = VectorOps.buildIvfIndex(emb, "vec_id", "embedding"); i.assigned.count(); i
    }
    r("vectorops.ivf_build_s") = buildS
    r("vectorops.ivf_save_s") = runner.seconds(VectorOps.saveIvfIndex(spark, root, idx))._2
    val (loaded, loadS) = runner.seconds(VectorOps.loadIvfIndex(spark, root))
    r("vectorops.ivf_load_s") = loadS
    r("vectorops.ivf_probe_s") = runner.seconds(
      VectorOps.ivfProbe(loaded, probeVecs, "vec_id", "embedding", k = 5).count())._2
    r("vectorops.brute_topk_s") = runner.seconds(
      VectorOps.cosineTopK(emb, probeVecs, "vec_id", "embedding", k = 5).count())._2
  }
}

/** Writes declared-key outputs plus the oracle SQL of the oracled ones
  * in the layout `tools/parity.py` reads. */
object Parity {
  def write(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      keys: Seq[String], tables: String, out: String): Unit = {
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // a key that throws leaves no output, which parity.py reports as a failure
    try keys.foreach { k =>
      try queries(k)(spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] parity output $k failed: ${e.getMessage}") }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val mapper = new ObjectMapper()
    val oracle = mapper.createObjectNode()
    keys.filter(graft.SparkEntry.oracleSql.contains).foreach(k => oracle.put(k, graft.SparkEntry.oracleSql(k)))
    mapper.writeValue(new File(out, "oracle_sql.json"), oracle)
  }

  /** Row counts of the results [[write]] left (DuckDB checks them after
    * the run): the counts every timed run of the same key must give. */
  def rowCounts(spark: SparkSession, keys: Seq[String], out: String): Seq[(String, Long)] =
    keys.flatMap(k => scala.util.Try(spark.read.parquet(s"$out/$k").count()).toOption.map(k -> _))
}
