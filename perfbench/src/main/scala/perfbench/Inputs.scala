package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The inputs `perfbench/inputs.py` generated for this run (it runs
  * before the JVM starts). Layout: `data/base/` holds every table;
  * for `llm_corpus`, `data/corpus<c>/` holds one corpus each and
  * `data/injected.json` the duplicate pairs injected into them. */
object Inputs {
  /** One corpus directory plus its injected (original, duplicate) pairs. */
  final case class Corpus(index: Int, dir: String, injected: Set[(Long, Long)])

  def base(work: File): String = new File(work, "data/base").getPath

  def corpora(work: File): Seq[Corpus] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(new File(work, "data/injected.json").toPath))
    json.fieldNames().asScala.toSeq.map(_.toInt).sorted.map { c =>
      val pairs = json.get(c.toString).elements().asScala
        .map(p => (p.get(0).asLong(), p.get(1).asLong())).toSet
      Corpus(c, new File(work, s"data/corpus$c").getPath, pairs)
    }
  }
}

object Io {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Bytes of all regular files under `f`. */
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L
}
