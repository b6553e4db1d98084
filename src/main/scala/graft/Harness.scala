package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** What every main shares: the Spark session they run on, the
  * host-speed calibration probe, and the failure policy.
  *
  * Per-key isolation is the contract (one broken key must not erase
  * the other 150 from the round's artifacts — the round-13 lesson),
  * but it must stop at FATAL JVM errors: an OutOfMemoryError or
  * LinkageError caught and logged as "one key failed" leaves a
  * corrupted JVM producing plausible-looking numbers for every key
  * after it (VERDICT r15 #8). So: NonFatal → record + continue;
  * fatal → record + RETHROW, and the mains flush their partial
  * artifacts in a finally so the crash is still auditable.
  */
object Harness {
  /** The one local session: `cpus` cores and as many shuffle
    * partitions, UI off, log level WARN, and a pinned UTC session
    * time zone (the stream path's NTZ→instant cast depends on it).
    * The spec fixture uses it too, so tests run on the mains'
    * settings. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores for the mains' session: `$SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Host-speed probe, in seconds: a fixed synthetic job (range →
    * project → one shuffle agg over `rows` ids in 32 tasks) that
    * touches the machinery the measured queries do (task scheduling,
    * codegen'd eval, one exchange) but none of the test data. The
    * bench host was observed oscillating between fast and ~10x-slow
    * phases on identical binaries (r10, r11), so a raw reading is
    * uninterpretable without this probe printed beside it. */
  def cal(spark: SparkSession, rows: Long): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, rows, 1L, 32)
      .selectExpr("id % 97 AS k", "id * 2654435761L AS v")
      .groupBy("k").sum("v").count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `body`; a NonFatal failure is recorded into `errors` and
    * returns None, a fatal one is recorded and rethrown. */
  def guarded[T](name: String,
      errors: scala.collection.mutable.Map[String, String])(body: => T): Option[T] =
    try Some(body) catch {
      case e: Throwable =>
        // first line of EACH throwable in the cause chain (bounded):
        // an analysis exception wrapping the real I/O cause must not
        // lose that cause in verify_errors.json (VERDICT r16 nit #5)
        errors(name) = Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).take(5)
          .map(t => Option(t.getMessage).getOrElse(t.getClass.getName)
            .linesIterator.take(1).mkString)
          .mkString(" <- ")
        System.err.println(s"[graft] $name failed: ${errors(name)}")
        if (NonFatal(e)) None else throw e
    }
}
