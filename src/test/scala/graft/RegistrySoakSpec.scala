package graft

import graft.api.TextOps
import org.apache.spark.DriverStorage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A long session holds a bounded amount of driver storage for the
  * collapse registry: rounds of the four collapse-sharing dedup
  * flavors over more corpora than the registry has slots must leave
  * the same broadcast blocks and storage bytes behind every round. */
class RegistrySoakSpec extends SparkSpec {

  /** `docs` documents over a 400-word vocabulary, 20 % of them copies
    * of earlier ones (a third verbatim, the rest with one token
    * replaced), so every flavor finds pairs. */
  private def corpus(seed: Int, docs: Int, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "do", "fi", "gu", "ha", "je", "ku", "ma", "no", "pe", "ri")
    val vocab = for (a <- syl; b <- syl) yield a + b
    val r = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until docs).foreach { i =>
      texts += (if (i > 10 && r.nextDouble() < 0.2) {
        val t = texts(r.nextInt(i)).clone()
        if (r.nextDouble() >= 0.35) t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.size))
        t
      } else Array.fill(20 + r.nextInt(30))(vocab(r.nextInt(vocab.size))))
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def round(corpora: Seq[DataFrame]): Unit = corpora.foreach { d =>
    TextOps.minhashNearDupPairs(d, "doc_id", "text", tau = 0.9).count()
    TextOps.simhashNearDupPairs(d, "doc_id", "text", tau = 0.9, maxHamming = 8).count()
    TextOps.minhashNearDupClusters(d, "doc_id", "text", tau = 0.9).count()
    TextOps.crossTextNearDupPairsOfSplits(d, "doc_id", "text",
      d.filter(col("doc_id") % 20 === 0), d.filter(col("doc_id") % 20 =!= 0),
      tau = 0.9).count()
  }

  test("collapse registry soak: six corpora x three rounds leave the same broadcasts and storage") {
    val root = java.nio.file.Files.createTempDirectory("graft_soak_").toString
    val corpora = (1 to 6).map(i => corpus(i, 120, s"$root/c$i"))
    round(corpora)
    round(corpora)
    val (bc2, used2) = DriverStorage.settled()
    round(corpora)
    val (bc3, used3) = DriverStorage.settled()
    info(s"after round 2: $bc2 broadcast blocks, $used2 storage bytes; " +
      s"after round 3: $bc3, $used3")
    assert(bc3 === bc2, "broadcast blocks grew across a round")
    assert(used3 === used2, "driver storage grew across a round")
    assert(used3 < 16L * 1024 * 1024, s"driver storage ${used3 / 1024} KiB over 16 MiB")
  }
}
