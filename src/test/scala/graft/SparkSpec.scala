package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session fixture for all suites (sf0.001 inputs). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"

  /** The mains' session factory at a fixed 4 cores, whatever
    * `$SPARK_GRAFT_CPUS` says. */
  lazy val spark: SparkSession = Harness.session(4)

  override def afterAll(): Unit = {
    // shared across suites in one JVM; do not stop
    super.afterAll()
  }
}
