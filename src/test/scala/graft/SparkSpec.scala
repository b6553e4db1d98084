package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session fixture for all suites (sf0.001 inputs). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"

  /** The mains' session factory at a fixed 4 cores, whatever
    * `$SPARK_GRAFT_CPUS` says. */
  lazy val spark: SparkSession = Harness.session(4)

  /** Write `df` as ONE parquet file at `target`, the layout the
    * testdata generator writes (Spark itself writes a directory). */
  def writeSingleFile(df: DataFrame, target: java.io.File): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft_single_file").toFile
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, target.toPath)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stage)
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; do not stop
    super.afterAll()
  }
}
