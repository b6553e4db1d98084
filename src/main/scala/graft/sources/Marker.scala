package graft.sources

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonToken,
  StreamReadConstraints}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.types.{DataType, StructType}

/** One decoded commit marker `_commits/<N>` of a snapshot table
  * ([[Snapshots]]): the manifest with each entry's recorded row count,
  * column ranges and Spark schema, the parent version,
  * and the exactly-once ledger. [[Marker.encode]] and [[Marker.decode]] are the
  * only writer and reader of marker content.
  *
  * '''Format.''' A marker is one flat JSON object whose values are all
  * strings, written in this field order:
  * {{{
  * {"data":"<e1> <e2> ..","rows":"<n1> <n2> ..","stats":"<s1> <s2> .."
  *  [,"schemas":"<j0> <j1> ..","schema":"<i1> <i2> .."],
  *  "parent":"<P>","lb":"<L>"[,"batch":"<B>"]}
  * }}}
  * (on one line, no whitespace between tokens).
  *   - `data`: the manifest entries relative to `data/`, space-joined —
  *     `<uuid>` (a whole staged dir) or `<uuid>/__gp=<v>` (one partition
  *     subdir of a partition-granular table).
  *   - `rows`, `stats`: one token per entry, space-joined and
  *     aligned with `data`.
  *     - rows: the entry's row count; `-1` = unknown.
  *     - stats: `-` (no ranges) or comma-joined `col=kind:min:max`
  *       triples. Each `kind` is pruned only by a literal of the
  *       Catalyst types listed beside it ([[SnapshotFileIndex.prune]]
  *       is the one reader of these ranges):
  *       - `l`: a plain signed integral column — no date, time, decimal
  *         or unsigned annotation; `Long.toString` bounds. Integral
  *         literals.
  *       - `d`: floating, `Double.toString` bounds. Integral and
  *         floating literals.
  *       - `s`: printable-ASCII string. String literals.
  *       - `e`: INT32 DATE, epoch days. `DateType` literals.
  *       - `t`: INT64 TIMESTAMP adjusted to UTC, epoch micros (MILLIS
  *         scaled up). `TimestampType` literals.
  *       - `n`: INT64 TIMESTAMP not adjusted to UTC, epoch micros
  *         (MILLIS scaled up). `TimestampNTZType` literals.
  *
  *       A column without a triple (INT96, NANOS and DECIMAL columns
  *       among them) has no recorded range and is never pruned.
  *   - `schemas` and `schema`: the entries' Spark schemas, written only
  *     when at least one entry records one, so a marker without them
  *     encodes as before. `schemas` lists the distinct schemas, each a
  *     `%XX`-escaped `StructType.json`, space-joined in order of first
  *     use; `schema` is aligned with `data` and holds each entry's index
  *     into that list, `?` = unknown. [[Snapshots.relation]] reads its
  *     data schema from these instead of merging footers.
  *
  *     Column names and min/max values are `%XX`-escaped (two upper-
  *     case hex digits) for `%` `,` `:` `=` space `"` `\` and control
  *     characters, so no token carries a delimiter and no JSON string
  *     needs a backslash escape.
  *   - `parent`: the version this commit was derived from (0 = none).
  *   - `lb`: the exactly-once ledger — the largest streaming batch id
  *     committed at or before this version, -1 when none.
  *   - `batch`: present only on a streaming commit: its batch id.
  *
  * '''Own fields.''' Only the fields BEFORE `parent`, plus the
  * contiguous run of `lb` and then `batch` right after it, belong to
  * the format. Later fields are ignored: markers written before the
  * format's keys were reserved carried caller metadata there, which
  * must never be read as row counts or ledger values.
  *
  * '''Legacy shapes''' (markers older writers left, still decoded):
  *   - `parent` as a bare number (`"parent":0`).
  *   - no `lb`: [[lb]] is None and the ledger is found by walking the
  *     older markers' `batch` fields.
  *   - no `rows` / `stats` / `schema` field, or one whose token count
  *     does not match `data`: every entry reads as unknown rows (-1),
  *     no ranges, unknown schema. A `schemas` token that does not
  *     parse, or an index outside the list, is an unknown schema.
  *   - a `cols` field (each entry's column names, which the recorded
  *     schema also holds): ignored, like any field the format does not
  *     name.
  *   - a `\` or control character written raw (not escaped) inside a
  *     token: read literally.
  *
  * '''In flight.''' A marker can be visible before its content is
  * (an HDFS file is listable at length 0 until close). Content that is
  * empty, truncated or lacks `data` decodes to None — "not yet
  * readable" — never to a partial manifest. */
private[graft] final case class Marker(
    entries: Seq[Marker.Entry], parent: Long, lb: Option[Long],
    batch: Option[Long]) {

  def names: Seq[String] = entries.map(_.name)
}

private[graft] object Marker {

  /** A recorded `[min, max]` range of one column. */
  final case class Stat(kind: Char, min: String, max: String)

  /** One manifest entry and what the marker records about it.
    * `schema` is the merge of its files' Spark schemas, None = unknown. */
  final case class Entry(name: String, rows: Long,
      stats: ListMap[String, Stat], schema: Option[StructType] = None)

  // a `stats` value grows with the manifest: no cap on string length
  private val json = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .streamReadConstraints(
      StreamReadConstraints.builder().maxStringLength(Int.MaxValue).build())
    .build()

  def encode(m: Marker): String = {
    val out = new java.io.StringWriter()
    val g = json.createGenerator(out)
    def field(k: String, tokens: Seq[String]): Unit =
      g.writeStringField(k, tokens.mkString(" "))
    g.writeStartObject()
    field("data", m.names)
    field("rows", m.entries.map(_.rows.toString))
    field("stats", m.entries.map { e =>
      if (e.stats.isEmpty) "-"
      else e.stats.map { case (c, st) =>
        s"${escape(c)}=${st.kind}:${escape(st.min)}:${escape(st.max)}"
      }.mkString(",")
    })
    val schemas = m.entries.flatMap(_.schema).distinct
    if (schemas.nonEmpty) {
      field("schemas", schemas.map(sch => escape(sch.json)))
      field("schema", m.entries.map(_.schema.map(schemas.indexOf(_).toString).getOrElse("?")))
    }
    g.writeStringField("parent", m.parent.toString)
    m.lb.foreach(x => g.writeStringField("lb", x.toString))
    m.batch.foreach(x => g.writeStringField("batch", x.toString))
    g.writeEndObject()
    g.close()
    out.toString
  }

  /** None = in flight (see the class doc). */
  def decode(text: String): Option[Marker] =
    // the encoder never emits a backslash, so one here is a legacy raw
    // byte: doubling it makes the JSON parser read it literally
    try {
      val p = json.createParser(text.replace("\\", "\\\\"))
      try fields(p) finally p.close()
    } catch { case _: java.io.IOException => None }

  private def fields(p: JsonParser): Option[Marker] = {
    if (p.nextToken() != JsonToken.START_OBJECT) return None
    val own = scala.collection.mutable.Map[String, String]()
    var parent = Option.empty[Long]
    var lb = Option.empty[Long]
    var batch = Option.empty[Long]
    var ledgerRun = true
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val key = p.currentName()
      val t = p.nextToken()
      val str = if (t == JsonToken.VALUE_STRING) Some(p.getText) else None
      if (t.isStructStart) p.skipChildren(): Unit
      if (parent.isEmpty) {
        if (key == "parent")
          parent = Some(
            (if (t == JsonToken.VALUE_NUMBER_INT) Some(p.getText) else str)
              .flatMap(_.toLongOption).getOrElse(-1L))
        else str.foreach(own.getOrElseUpdate(key, _))
      } else if (ledgerRun) (key, str.flatMap(_.toLongOption)) match {
        case ("lb", Some(x)) if lb.isEmpty && batch.isEmpty => lb = Some(x)
        case ("batch", Some(x)) if batch.isEmpty => batch = Some(x)
        case _ => ledgerRun = false
      }
    }
    if (p.currentToken() != JsonToken.END_OBJECT) return None
    own.get("data").map { data =>
      val names = data.split(" ").toSeq
      def aligned(key: String): Option[Seq[String]] =
        own.get(key).map(_.split(" ").toSeq).filter(_.length == names.length)
      val rows = aligned("rows").filter(_.forall(_.toLongOption.isDefined))
        .map(_.map(_.toLong)).getOrElse(names.map(_ => -1L))
      val stats = aligned("stats").map(_.map(statsOf))
        .getOrElse(names.map(_ => ListMap.empty[String, Stat]))
      val schemas = own.get("schemas").toSeq.flatMap(_.split(" "))
        .map(tok => structOf(unescape(tok)))
      val schema = aligned("schema")
        .map(_.map(_.toIntOption.flatMap(schemas.lift).flatten))
        .getOrElse(names.map(_ => None))
      Marker(names.indices.map(i =>
        Entry(names(i), rows(i), stats(i), schema(i))),
        parent.getOrElse(-1L), lb, batch)
    }
  }

  /** A stats token; a malformed triple is dropped (= no range). */
  private def statsOf(tok: String): ListMap[String, Stat] =
    if (tok == "-") ListMap.empty
    else ListMap.from(tok.split(",").toSeq.flatMap { part =>
      part.split("=") match {
        case Array(c, rest) => rest.split(":", -1) match {
          case Array(k, mn, mx) if k.length == 1 =>
            Some(unescape(c) -> Stat(k.charAt(0), unescape(mn), unescape(mx)))
          case _ => None
        }
        case _ => None
      }
    })

  /** A `StructType.json` string as a schema; None when it does not
    * parse to a struct. */
  private[sources] def structOf(json: String): Option[StructType] =
    try DataType.fromJson(json) match {
      case st: StructType => Some(st)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }

  private def escape(v: String): String =
    v.flatMap(c =>
      if (c < ' ' || "%,:= \"\\".indexOf(c) >= 0) f"%%${c.toInt}%02X" else c.toString)

  private val Escaped = "%([0-9A-Fa-f]{2})".r

  /** Decode `%XX` escapes — the marker's and the one Hive/Spark apply
    * to special characters in a partition directory name. A `%` not
    * followed by two hex digits passes through literally. */
  private[sources] def unescape(v: String): String =
    Escaped.replaceAllIn(v, m => scala.util.matching.Regex.quoteReplacement(
      Integer.parseInt(m.group(1), 16).toChar.toString))
}
