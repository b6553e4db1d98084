package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Marker
import graft.sources.Marker.{Entry, Stat}

/** The commit-marker codec on its own — no SparkSession. The golden
  * strings are markers the hand-built pre-codec writer produced for
  * the same manifests, less the `cols` field (each entry's column
  * names) that writer put after `stats`: the codec writes those bytes,
  * and still reads a marker that carries `cols`. */
class MarkerSpec extends AnyFunSuite {

  private val odd = "a b,c:d=e%f\"g"
  private val (a, b, c) = ("7236890f-995e-4a1c-8531-0c34814a4c3e",
    "dab2f515-82b6-4bdc-b246-6e878a4e8cb8", "d6bd5485-4356-45b1-af68-0b0d94cd5170")
  private def ranges(k: (Int, Int), p: Int, s: (String, String),
      d: (String, String)) =
    ListMap("k" -> Stat('l', s"${k._1}", s"${k._2}"),
      "p" -> Stat('l', s"$p", s"$p"), odd -> Stat('s', s._1, s._2),
      "d" -> Stat('d', d._1, d._2))
  private val gp1 = Entry(s"$a/__gp=1", 2L,
    ranges((1, 2), 1, ("plain", "x, y:z=w%v \"q"), ("-0.25", "1.5")))
  private val gp2 = Entry(s"$a/__gp=2", 1L,
    ranges((3, 3), 2, ("", ""), ("1.0E300", "1.0E300")))
  private val gp3 = Entry(s"$b/__gp=3", 1L, ranges((4, 4), 3, ("m", "m"), ("2.0", "2.0")))
  private val gp3n = Entry(s"$c/__gp=3", 1L, ranges((5, 5), 3, ("n", "n"), ("3.0", "3.0")))

  private val oddStats = "k=l:1:2,p=l:1:1,a%20b%2Cc%3Ad%3De%25f%22g=s:plain:" +
    "x%2C%20y%3Az%3Dw%25v%20%22q,d=d:-0.25:1.5"
  private val oddCols = "k,p,a%20b%2Cc%3Ad%3De%25f%22g,d"
  /** `m`'s bytes as a writer of the `cols` field wrote them. */
  private def withCols(m: String, cols: String): String =
    m.replace(""","parent":""", s""","cols":"$cols","parent":""")
  private def statsOf(k: Int, p: Int, s: String, d: String) =
    s"k=l:$k:$k,p=l:$p:$p,a%20b%2Cc%3Ad%3De%25f%22g=s:$s:$s,d=d:$d:$d"

  /** (marker, the bytes the pre-codec writer produced for it) */
  private val goldens = Seq(
    // commitPartitioned at genesis
    Marker(Seq(gp1, gp2), 0L, Some(-1L), None) ->
      (s"""{"data":"$a/__gp=1 $a/__gp=2","rows":"2 1",""" +
        s""""stats":"$oddStats ${statsOf(3, 2, "", "1.0E300")}",""" +
        s""""parent":"0","lb":"-1"}"""),
    // a streaming txnAppend: the batch field, the folded ledger
    Marker(Seq(gp1, gp2, gp3, gp3n), 2L, Some(7L), Some(7L)) ->
      (s"""{"data":"$a/__gp=1 $a/__gp=2 $b/__gp=3 $c/__gp=3","rows":"2 1 1 1",""" +
        s""""stats":"$oddStats ${statsOf(3, 2, "", "1.0E300")} """ +
        s"""${statsOf(4, 3, "m", "2.0")} ${statsOf(5, 3, "n", "3.0")}",""" +
        s""""parent":"2","lb":"7","batch":"7"}"""),
    // a drop on top of a parent without rows: unknown carried forward
    Marker(Seq(gp1.copy(rows = -1L)), 4L, Some(7L), None) ->
      (s"""{"data":"$a/__gp=1","rows":"-1","stats":"$oddStats",""" +
        s""""parent":"4","lb":"7"}"""),
    // a plain append of a 0-row, schema-widening batch
    Marker(Seq(
      Entry("da83d118-de19-4d8d-bdff-55cf7c8e7ff3", 1L,
        ListMap("k" -> Stat('l', "1", "1"), "v" -> Stat('s', "a", "a"))),
      Entry("906d4b82-c903-4ef7-8e43-524f50024115", 0L, ListMap.empty)),
      1L, Some(-1L), None) ->
      ("""{"data":"da83d118-de19-4d8d-bdff-55cf7c8e7ff3 """ +
        """906d4b82-c903-4ef7-8e43-524f50024115","rows":"1 0",""" +
        """"stats":"k=l:1:1,v=s:a:a -","parent":"1","lb":"-1"}"""))

  private val v1 = goldens.head._2

  /** Each golden's `cols` value, as the pre-codec writer wrote it. */
  private val goldenCols =
    Seq(s"$oddCols $oddCols", Seq.fill(4)(oddCols).mkString(" "), "?", "k,v k,v,w")

  test("encode writes the pre-codec writer's bytes") {
    goldens.foreach { case (m, bytes) => assert(Marker.encode(m) === bytes) }
  }

  test("decode(encode(m)) == m") {
    goldens.foreach { case (m, bytes) =>
      assert(Marker.decode(bytes) === Some(m))
      assert(Marker.decode(Marker.encode(m)) === Some(m))
    }
  }

  test("names and values with delimiters, quotes, backslashes and controls round-trip") {
    val names = Seq("a,b", "c:d", "e=f", "g%h", "i j", "k\"l", "m\\n", "o\tp", "ü-ß", "%41")
    val m = Marker(Seq(Entry("u1", 3L,
      ListMap.from(names.map(n => n -> Stat('s', s" $n,:=%\"\\ ", n))),
      Some(StructType(names.map(StructField(_, StringType)))))),
      0L, Some(-1L), None)
    val text = Marker.encode(m)
    assert(!text.contains("\\"), s"no JSON escape is ever needed: $text")
    assert(Marker.decode(text) === Some(m))
  }

  test("schemas: one token per distinct schema; unknown, unparseable or out-of-range is None") {
    val sch = StructType(Seq(StructField("k", LongType)))
    val m = Marker(Seq(gp1.copy(schema = Some(sch)), gp2, gp3.copy(schema = Some(sch))),
      0L, Some(-1L), None)
    val text = Marker.encode(m)
    assert(text.contains(""""schema":"0 ? 0","parent":"0""""))
    assert(text.split("\"schemas\":\"")(1).split("\"")(0).split(" ").length === 1)
    assert(Marker.decode(text) === Some(m))
    val bad = text.replaceFirst(""""schemas":"[^"]*"""", """"schemas":"nonsense"""")
    assert(Marker.decode(bad).get.entries.map(_.schema) === Seq(None, None, None))
    val outside = text.replace(""""schema":"0 ? 0"""", """"schema":"0 ? 1"""")
    assert(Marker.decode(outside).get.entries.map(_.schema) === Seq(Some(sch), None, None))
  }

  test("legacy: a bare-number parent") {
    val legacy = v1.replace(""""parent":"0"""", """"parent":0""")
    assert(legacy != v1)
    assert(Marker.decode(legacy) === Marker.decode(v1))
  }

  test("legacy: no lb field — the ledger is unknown, a batch alone is kept") {
    val m = Marker.decode(v1.replace(""","lb":"-1"""", "")).get
    assert(m.lb === None && m.batch === None && m.parent === 0L)
    val b = Marker.decode(v1.replace(""""lb":"-1"""", """"batch":"5"""")).get
    assert(b.lb === None && b.batch === Some(5L))
    // the in-flight filler shape: data, a bare parent, lb — nothing else
    val bare = Marker.decode("""{"data":"u","parent":1,"lb":"-1"}""").get
    assert(bare === Marker(Seq(Entry("u", -1L, ListMap.empty)), 1L, Some(-1L), None))
  }

  test("legacy: rows / stats removed read as unknown for every entry; cols is ignored") {
    def without(f: String) =
      Marker.decode(v1.replaceFirst(s""""$f":"[^"]*",""", "")).get.entries
    assert(without("rows") === Seq(gp1, gp2).map(_.copy(rows = -1L)))
    assert(without("stats") === Seq(gp1, gp2).map(_.copy(stats = ListMap.empty)))
    // every golden, as the pre-codec writer wrote it with `cols`,
    // decodes to the same marker
    goldens.zip(goldenCols).foreach { case ((m, bytes), cols) =>
      assert(Marker.decode(withCols(bytes, cols)) === Some(m))
    }
    // a field whose token count does not match data is not aligned
    assert(Marker.decode(v1.replace(""""rows":"2 1"""", """"rows":"2"""")).get
      .entries.map(_.rows) === Seq(-1L, -1L))
  }

  test("legacy: fields after the parent/lb/batch run are ignored") {
    // caller extras after parent: "note" ends the ledger run, so its
    // later "batch" is not the ledger's
    val extras = Marker.decode(
      v1.replaceFirst(""","lb":"-1"""", ""","note":"x","batch":"999"""")).get
    assert(extras.lb === None && extras.batch === None)
    assert(extras.entries === Seq(gp1, gp2))
    // own-looking fields after the run are not the format's either
    val late = Marker.decode(v1.replaceFirst(""""rows":"2 1",""", "")
      .replace("}", ""","rows":"5 5","lb":"3"}""")).get
    assert(late.entries.map(_.rows) === Seq(-1L, -1L) && late.lb === Some(-1L))
  }

  test("legacy: a raw backslash or control character inside a token reads literally") {
    val m = Marker.decode(
      "{\"data\":\"u\",\"rows\":\"1\",\"stats\":\"v=s:a\\b:c\\q\ty\"," +
        "\"parent\":\"0\",\"lb\":\"-1\"}").get
    assert(m.entries.head.stats === ListMap("v" -> Stat('s', "a\\b", "c\\q\ty")))
  }

  test("empty, truncated or data-less content decodes as in flight") {
    assert(Marker.decode("") === None)
    assert(Marker.decode("  ") === None)
    (0 until v1.length).foreach { n =>
      assert(Marker.decode(v1.take(n)) === None, s"prefix of length $n")
    }
    assert(Marker.decode("""{"parent":"0","lb":"-1"}""") === None)
  }
}
