package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison, Expression,
  Literal, PredicateHelper}
import org.apache.spark.sql.execution.datasources.{FileIndex, InMemoryFileIndex,
  PartitionDirectory}
import org.apache.spark.sql.types._

/** The file index of every snapshot read: the files of `entries` (one
  * commit marker's manifest, each entry a dir under `dataRoot`), listed
  * once through one wrapped [[InMemoryFileIndex]], so Spark's parallel
  * listing still serves a large manifest. Entries are immutable, so
  * `refresh` does nothing; the user column lives in the files, so there
  * is no partition schema. `listFiles` keeps only the entries that
  * survive [[SnapshotFileIndex.prune]] against the scan's data filters
  * (Shark's map pruning: ranges recorded at load time skip data at plan
  * time). */
private[sources] final class SnapshotFileIndex(spark: SparkSession, dataRoot: String,
    entries: Seq[Marker.Entry]) extends FileIndex {

  private val files = new InMemoryFileIndex(
    spark, entries.map(e => new Path(s"$dataRoot/${e.name}")), Map.empty, None)

  def allFiles: Seq[FileStatus] = files.allFiles()

  override def rootPaths: Seq[Path] = files.rootPaths

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dropped = entries.map(_.name).toSet --
      SnapshotFileIndex.prune(entries, dataFilters).map(_.name)
    // a file's entry is its dir: `<uuid>`, or `<uuid>/__gp=<v>` on a
    // partition-granular table
    def kept(f: Path) = {
      val d = f.getParent
      !dropped(d.getName) && !dropped(s"${d.getParent.getName}/${d.getName}")
    }
    files.listFiles(partitionFilters, Nil)
      .map(d => if (dropped.isEmpty) d else d.copy(files = d.files.filter(f => kept(f.getPath))))
  }

  override def inputFiles: Array[String] = files.inputFiles

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.sizeInBytes

  override def partitionSchema: StructType = StructType(Nil)
}

private[sources] object SnapshotFileIndex extends PredicateHelper {

  /** The one stats-pruning rule: `entries` minus those for which some
    * conjunct of `filters` of the form `attribute op literal` (`=`,
    * `<`, `<=`, `>`, `>=`, either side) puts the literal outside the
    * entry's recorded `[min, max]` of that column. The literal's
    * Catalyst type picks the family: integral against `l`, floating or
    * integral against `d`, short printable-ASCII strings (the harvest's
    * rule) against `s`, and exactly `DateType` against `e`,
    * `TimestampType` against `t`, `TimestampNTZType` against `n`. Any
    * other case — a NaN, a decimal literal, a date literal against a
    * timestamp range, a cast column, no stats — keeps the entry, so no
    * row the filter would keep is ever dropped. */
  def prune(entries: Seq[Marker.Entry], filters: Seq[Expression]): Seq[Marker.Entry] = {
    val flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    val bounds = filters.flatMap(splitConjunctivePredicates).flatMap {
      case c: BinaryComparison => (c.left, c.right) match {
        case (a: Attribute, l: Literal) => flipped.get(c.symbol).map(_ => (a.name, c.symbol, l))
        case (l: Literal, a: Attribute) => flipped.get(c.symbol).map((a.name, _, l))
        case _ => None
      }
      case _ => None
    }.filter(_._3.value != null)
    entries.filterNot(e => bounds.exists { case (col, op, l) =>
      e.stats.get(col).exists(refutes(_, op, l))
    })
  }

  /** No row in `st`'s range satisfies `column op l`. */
  private def refutes(st: Marker.Stat, op: String, l: Literal): Boolean = {
    def outside[T](mn: T, mx: T, v: T)(implicit o: Ordering[T]): Boolean = op match {
      case "=" => o.lt(v, mn) || o.gt(v, mx)
      case "<" => o.gteq(mn, v)
      case "<=" => o.gt(mn, v)
      case ">" => o.lteq(mx, v)
      case _ => o.lt(mx, v) // >=
    }
    (st.kind, l.dataType) match {
      // dates are epoch days, timestamps epoch micros: both sides Long
      case ('l', ByteType | ShortType | IntegerType | LongType) | ('e', DateType) |
          ('t', TimestampType) | ('n', TimestampNTZType) =>
        (st.min.toLongOption, st.max.toLongOption) match {
          case (Some(mn), Some(mx)) => outside(mn, mx, l.value.asInstanceOf[Number].longValue)
          case _ => false
        }
      case ('d', ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType) =>
        // the engine compares double-widened, with NaN above every
        // value: a NaN on either side proves nothing
        val v = l.value.asInstanceOf[Number].doubleValue
        (st.min.toDoubleOption, st.max.toDoubleOption) match {
          case (Some(mn), Some(mx)) if !(v.isNaN || mn.isNaN || mx.isNaN) =>
            outside(mn, mx, v)(Ordering.Double.IeeeOrdering)
          case _ => false
        }
      case ('s', StringType) =>
        val v = l.value.toString
        Seq(v, st.min, st.max).forall(Snapshots.asciiSafe) && outside(st.min, st.max, v)
      case _ => false
    }
  }
}
