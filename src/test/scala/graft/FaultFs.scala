package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The one test filesystem: a RawLocalFileSystem answering for the
  * `faultfs:` scheme. It counts `open` and listing calls per path —
  * `listStatus`, `listLocatedStatus` and `listFiles`, whichever Spark's
  * lister picks; a listing call made from inside another counts once —
  * and while [[FaultFs.conflicting]] is set, every create under a
  * `_commits/` dir counts and fails as already existing (another writer
  * always won). Snapshot commits need the scheme opted in through
  * `spark.graft.snapshot.atomicCreateSchemes`: see [[FaultFs.using]]. */
class FaultFs extends RawLocalFileSystem {
  import FaultFs._

  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump(openCounts, f)
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = listing(f)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    listing(f)(super.listLocatedStatus(f))

  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    listing(f)(super.listFiles(f, recursive))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (conflicting && f.getParent.getName == "_commits") {
      creates.incrementAndGet(): Unit
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
    }
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultFs {
  private val openCounts = new ConcurrentHashMap[String, AtomicInteger]()
  private val listCounts = new ConcurrentHashMap[String, AtomicInteger]()
  private val nested = new ThreadLocal[Int] { override def initialValue = 0 }

  /** While set, every `_commits/` create fails as already existing. */
  @volatile var conflicting = false
  /** `_commits/` creates failed while [[conflicting]] was set. */
  val creates = new AtomicInteger()

  private def bump(counts: ConcurrentHashMap[String, AtomicInteger], f: Path): Unit =
    counts.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger())
      .incrementAndGet(): Unit

  private def listing[T](f: Path)(body: => T): T = {
    val depth = nested.get
    if (depth == 0) bump(listCounts, f)
    nested.set(depth + 1)
    try body finally nested.set(depth)
  }

  def reset(): Unit = { openCounts.clear(); listCounts.clear() }

  def opens(path: String): Int = Option(openCounts.get(path)).map(_.get).getOrElse(0)

  def listings(path: String): Int = Option(listCounts.get(path)).map(_.get).getOrElse(0)

  /** Registers the scheme and opts it into snapshot commits while
    * `body` runs. */
  def using[T](spark: SparkSession)(body: => T): T = {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    spark.conf.set("spark.graft.snapshot.atomicCreateSchemes", "faultfs")
    try body finally spark.conf.unset("spark.graft.snapshot.atomicCreateSchemes")
  }
}
