package graft
import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    // µs parquet timestamps: DuckDB then reads our results with the
    // same TIMESTAMP type the oracle produces (no INT96 ambiguity).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new File(outDir).mkdirs()
    // a key that throws writes NO parquet dir and silently vanishes
    // from the driver's correctness artifact (round 13: 15 crashed
    // keys left no trace); record failures explicitly so a crashed
    // key is auditable as a crash, not an absence. NonFatal failures
    // are isolated per key; a FATAL JVM error rethrows after the
    // finally flushes the partial artifacts (Harness.guarded,
    // VERDICT r15 #8 — a corrupted JVM must not keep "passing").
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // A fatal abort's finally-flush can itself fail (same OOM/disk
    // condition that caused the abort); that write failure must never
    // REPLACE the original fatal cause on stderr (ADVICE r16) — it is
    // attached as suppressed and the crash stays primary.
    var primary: Throwable = null
    try {
      SparkEntry.queries.foreach { case (name, fn) =>
        Harness.guarded(name, errors) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
      }
      spark.stop()
    } catch { case t: Throwable => primary = t; throw t
    } finally try {
      val json = new ObjectMapper()
      json.writeValue(new File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql.asJava)
      json.writeValue(new File(s"$outDir/verify_errors.json"), errors.asJava)
    } catch { case w: Throwable =>
      if (primary == null) throw w
      primary.addSuppressed(w)
      System.err.println(s"[graft] artifact flush failed after fatal error " +
        s"(kept as suppressed): ${w.getMessage}")
    }
  }
}
