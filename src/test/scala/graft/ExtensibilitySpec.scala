package graft

import graft.functions.{Graft, TokenJaccardUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** §2.11 custom-Catalyst functions: kernel goldens, codegen-path
  * equivalence, aggregate laws, and engine-specific hash goldens
  * (fn_hash unit rows, SURVEY.md:265).
  */
class ExtensibilitySpec extends SparkSpec {

  private def u(s: String) = UTF8String.fromString(s)

  test("a partial registration without the sentinel is retried to completion") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // fresh SessionState → fresh FunctionRegistry, isolated from the
    // shared fixture session
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    Graft.registerAll(s2)
    // emulate exactly the state a mid-block throw leaves behind:
    // functions before the throw point registered, everything after —
    // including the LAST-registered sentinel — absent
    reg.dropFunction(FunctionIdentifier("sorted_jaccard_min"))
    reg.dropFunction(FunctionIdentifier("vec_dot"))
    assert(!reg.functionExists(FunctionIdentifier("vec_dot")))
    // the sentinel probe must read false and re-run the whole block
    Graft.registerAll(s2)
    assert(reg.functionExists(FunctionIdentifier("vec_dot")))
    assert(reg.functionExists(FunctionIdentifier("sorted_jaccard_min")))
    // and the analyzer resolves through the re-registered function
    val got = s2.sql(
      "SELECT vec_dot(array(double(1.0), double(2.0)), array(double(3.0), double(4.0))) AS d")
      .head().getDouble(0)
    assert(math.abs(got - 11.0) < 1e-9)
  }

  test("token_jaccard kernel goldens") {
    assert(TokenJaccardUtil.compute(u("a b c"), u("a b c")) === 1.0)
    assert(TokenJaccardUtil.compute(u("a b"), u("c d")) === 0.0)
    assert(TokenJaccardUtil.compute(u("a b c"), u("b c d")) === 0.5)
    assert(TokenJaccardUtil.compute(u(""), u("")) === 0.0)
    assert(TokenJaccardUtil.compute(u("a a b"), u("a b")) === 1.0) // distinct sets
  }

  test("minhash_sig is bit-identical to the nested-HOF formulation it replaced") {
    Graft.registerAll(spark)
    val s = spark
    import s.implicits._
    // random + adversarial arrays: empty, empty-string tokens, unicode,
    // single token, long tokens — the signatures drive LSH band
    // collisions, so ANY bit difference changes candidate sets
    val rnd = new scala.util.Random(11)
    val rows: Seq[(Long, Seq[String])] = (0 until 300).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, (0 until n).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(9)).mkString))
    } ++ Seq(
      (1000L, Seq.empty[String]),
      (1001L, Seq("")),
      (1002L, Seq("", "a", "")),
      (1003L, Seq("é", "漢字", "emoji😀")),
      (1004L, Seq("x" * 500)),
      (1005L, Seq("a"))
    )
    val df = rows.toDF("id", "toks")
    for (n <- Seq(30, 32)) { // the two production numHashes
      val mismatch = df.selectExpr("id",
        s"minhash_sig(toks, $n) AS fast",
        s"transform(sequence(0, ${n - 1}), i -> array_min(transform(transform(toks, t -> hash(t)), h -> hash(i, h)))) AS ref")
        .where("NOT (fast <=> ref)")
      assert(mismatch.count() === 0,
        s"minhash_sig($n) diverges from HOF reference: ${mismatch.take(3).mkString(", ")}")
    }
  }

  test("ngram_set is bit-identical to the split/HOF formulation it replaced") {
    Graft.registerAll(spark)
    val s = spark
    import s.implicits._
    // adversarial texts: consecutive/leading/trailing spaces (empty
    // tokens), empty string, single token, unicode multibyte, long
    // repeats — plus random space-ridden strings. The sets key the
    // exact-dup collapse AND the confirm Jaccard, so any difference
    // changes dedup output.
    val rnd = new scala.util.Random(13)
    val alphabet = Vector("a", "bb", "ccc", "é", "漢字", " ", "  ", "")
    val rows: Seq[(Long, String)] = (0 until 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString)
    } ++ Seq(
      (1000L, ""), (1001L, " "), (1002L, "  "), (1003L, "a"),
      (1004L, " a  b c "), (1005L, "x y x y x"), (1006L, "é 漢字 emoji😀 é"),
      (1007L, ("tok " * 200).trim)
    )
    val df = rows.toDF("id", "txt")
    for (n <- Seq(1, 2, 3)) {
      val ref =
        s"array_sort(array_distinct(CASE WHEN size(split(txt, ' ')) >= $n THEN transform(sequence(1, size(split(txt, ' ')) - ${n - 1}), i -> concat_ws(' ', ${(0 until n).map(o => s"element_at(split(txt, ' '), i + $o)").mkString(", ")})) ELSE array() END))"
      val mismatch = df.selectExpr("id", s"ngram_set(txt, $n) AS fast", s"$ref AS ref")
        .where("NOT (fast <=> ref)")
      assert(mismatch.count() === 0,
        s"ngram_set($n) diverges from HOF reference: ${mismatch.take(3).mkString(", ")}")
    }
    // declared null delta: kernel nulls out, HOF form gave empty array;
    // both vanish at the collapse's size(toks) > 0 filter
    assert(Seq((1L, null: String)).toDF("id", "txt")
      .selectExpr("ngram_set(txt, 2) AS x").where("x IS NULL").count() === 1)
  }

  test("token_set matches token_jaccard's own tokenization (\\s+ split, empties dropped)") {
    Graft.registerAll(spark)
    val s = spark
    import s.implicits._
    // adversarial whitespace: tabs, newlines, \x0B, \f, \r, runs of
    // mixed whitespace, leading/trailing — exactly the texts where
    // ngram_set(·, 1)'s single-0x20/keep-empties definition diverges.
    // token_set bands the LSH rewrite's raw-text form, so a divergence
    // from token_jaccard's sets makes the tau-length filter drop true
    // pairs (the ADVICE r12 high finding).
    val rnd = new scala.util.Random(19)
    val alphabet = Vector("a", "bb", "ccc", "é", "漢字", " ", "\t", "\n",
      "\r", "", "\f", "  ", "\t ", "")
    val rows: Seq[(Long, String)] = (0 until 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString)
    } ++ Seq(
      (1000L, ""), (1001L, " "), (1002L, "\t\n\f\r "), (1003L, "a"),
      (1004L, "a  b"), (1005L, "a\tb"), (1006L, " a \n b\tc "),
      (1007L, "x y x\ry"), (1008L, "é\t漢字  emoji😀")
    )
    val df = rows.toDF("id", "txt")
    val mismatch = df.select(col("id"), expr("token_set(txt)").as("fast"),
      array_sort(array_distinct(array_remove(split(col("txt"), "\\s+"), lit("")))).as("ref"))
      .where("NOT (fast <=> ref)")
    assert(mismatch.count() === 0,
      s"token_set diverges from split/remove/distinct reference: ${mismatch.take(3).mkString(", ")}")
    assert(Seq((1L, null: String)).toDF("id", "txt")
      .selectExpr("token_set(txt) AS x").where("x IS NULL").count() === 1)
    // the property the LSH rewrite's raw-text form rests on: jaccard
    // over token_set equals token_jaccard on the raw strings, so
    // banding/length-filtering with token_set is confirm-consistent
    val t = df.select(col("id"), col("txt"))
    val cross = t.as("x").crossJoin(t.limit(40).as("y"))
      .select(expr("sorted_jaccard(token_set(x.txt), token_set(y.txt))").as("via_set"),
        expr("token_jaccard(x.txt, y.txt)").as("via_text"))
      .where("NOT (via_set <=> via_text)")
    assert(cross.count() === 0,
      s"token_set jaccard diverges from token_jaccard: ${cross.take(3).mkString(", ")}")
  }

  test("simhash_sig is bit-identical to the nested-HOF formulation it replaced") {
    Graft.registerAll(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val rows: Seq[(Long, Seq[String])] = (0 until 300).map { i =>
      val m = rnd.nextInt(14)
      (i.toLong, (0 until m).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
    } ++ Seq(
      (1000L, Seq.empty[String]), // 0L by both forms: every vote sum is 0
      (1001L, Seq("")), (1002L, Seq("a")), (1003L, Seq("é", "漢字", "emoji😀")),
      (1004L, Seq.fill(64)("same")) // heavy tie pressure on every bit
    )
    val mismatch = rows.toDF("id", "toks")
      .selectExpr("id", "simhash_sig(toks) AS fast",
        """aggregate(
          |  transform(sequence(0, 31), b ->
          |    if(aggregate(transform(toks, t -> hash(t)), 0,
          |                 (acc, h) -> acc + (shiftright(h, b) & 1) * 2 - 1) > 0,
          |       shiftleft(1L, b), 0L)),
          |  0L, (acc, x) -> acc + x) AS ref""".stripMargin)
      .where("NOT (fast <=> ref)")
    assert(mismatch.count() === 0,
      s"simhash_sig diverges from HOF reference: ${mismatch.take(3).mkString(", ")}")
  }

  test("ivf_cells ranks cells as a driver loop of the same arithmetic and as the SQL form it replaced") {
    import graft.functions.{Centroids, IvfCells}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    Graft.registerAll(spark)
    val emb = Tables.t(spark, sf, "embeddings")
    val idx = graft.api.VectorOps.buildIvfIndex(emb, "vec_id", "embedding")
    // two identical centroids force score ties, broken by cell id
    val cent = idx.centroids :+ idx.centroids(3).clone()
    val ivf = new Centroids(cent)
    val s = spark
    import s.implicits._
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .unionByName(Seq((-1L, Option.empty[Seq[Double]])).toDF("vec_id", "v"))
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val fast = ranked(vecs.select(col("vec_id"),
      ColumnBridge.column(IvfCells(ColumnBridge.expression(col("v")), ivf))))
    // the driver loop: −2·dot + |c|², left-to-right sums, (score, id)
    val vs = vecs.collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1)))
    val loop = vs.map { case (id, v) =>
      val ids: Seq[Int] = cent.indices
      id -> v.fold(ids) { x =>
        val d = cent.map { c =>
          var dot = 0.0; var i = 0
          while (i < math.min(x.length, c.length)) { dot += x(i) * c(i); i += 1 }
          -2.0 * dot + c.map(y => y * y).sum
        }
        ids.sortWith((a, b) => if (d(a) != d(b)) d(a) < d(b) else a < b)
      }
    }.toMap
    assert(vs.length === 501 && fast.keySet === loop.keySet)
    assert(fast(-1L) === cent.indices, "a null vector ranks cells by id")
    fast.foreach { case (id, r) => assert(r === loop(id), s"vec $id") }
    // the interpreted path agrees with codegen
    val interp = IvfCells(org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)), ivf)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    assert(interp.toSeq === cent.indices)
    // and with the array_sort-over-vec_dot-literals form it replaced
    val sqlForm = array_sort(array(cent.zipWithIndex.map { case (c, i) =>
      val dot = expr(s"vec_dot(v, ${c.mkString("array(", "D,", "D)")})")
      struct((lit(-2) * dot + lit(c.map(x => x * x).sum)).as("d"), lit(i).as("i"))
    }: _*))
    val old = ranked(vecs.select(col("vec_id"), transform(sqlForm, x => x.getField("i"))))
    fast.foreach { case (id, r) => assert(r === old(id), s"vec $id vs SQL form") }
    // the plan carries the quantizer as one short value
    val plan = idx.assigned.queryExecution.analyzed.toString
    assert(plan.contains(s"centroids[${idx.centroids.length}x") && !plan.contains("vec_dot(v, array("))
  }

  test("token_jaccard through codegen equals interpreted kernel") {
    Graft.registerAll(spark)
    Tables.views(spark, sf)
    val rows = spark.sql(
      "SELECT text, token_jaccard(text, concat(text, ' qq_new')) AS j FROM documents LIMIT 50")
      .collect()
    rows.foreach { r =>
      val expected = TokenJaccardUtil.compute(u(r.getString(0)), u(r.getString(0) + " qq_new"))
      assert(r.getDouble(1) === expected)
    }
  }

  test("ngrams generator golden") {
    Graft.registerAll(spark)
    val out = spark.sql("SELECT ngrams('abcde', 3) AS g").collect().map(_.getString(0))
    assert(out.toSeq === Seq("abc", "bcd", "cde"))
    assert(spark.sql("SELECT ngrams('ab', 3) AS g").count() === 0)
  }

  test("topk_keys equals the SQL window top-k") {
    Graft.registerAll(spark)
    Tables.views(spark, sf)
    val viaAgg = spark.sql(
      """SELECT o_orderstatus, topk_keys(o_orderkey, o_totalprice, 5) AS csv
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaWindow = spark.sql(
      """SELECT o_orderstatus, o_orderkey FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) rn
        |  FROM orders) WHERE rn <= 5 ORDER BY o_orderstatus, rn""".stripMargin)
      .collect().groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getLong(1)).mkString(",") }
    assert(viaAgg === viaWindow)
  }

  test("weighted-mean aggregator matches direct computation") {
    Graft.registerAll(spark)
    Tables.views(spark, sf)
    val got = spark.sql("SELECT wmean(l_quantity, l_extendedprice) FROM lineitem").head.getDouble(0)
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice")).collect()
    val (swx, sw) = rows.foldLeft((0L, 0L)) { case ((a, b), r) =>
      val w = math.round(r.getDouble(0) * 100); val x = math.round(r.getDouble(1) * 100)
      (a + w * x, b + w)
    }
    assert(got === swx.toDouble / sw.toDouble / 100.0)
  }

  test("fn_hash engine-specific goldens (crc32, xxhash64, murmur3, sha1)") {
    val r = spark.sql(
      """SELECT crc32(CAST('graft' AS BINARY)), xxhash64('graft'), hash('graft'),
        |  sha1(CAST('graft' AS BINARY)), sha2(CAST('graft' AS BINARY), 512)""".stripMargin).head
    assert(r.getLong(0) === crc32Of("graft"))
    // deterministic across runs: pin the observed values as goldens
    val (xx, mm) = (r.getLong(1), r.getInt(2))
    val r2 = spark.sql("SELECT xxhash64('graft'), hash('graft')").head
    assert(r2.getLong(0) === xx && r2.getInt(1) === mm)
    assert(r.getString(3) === sha1Of("graft"))
    assert(r.getString(4).length === 128)
  }

  private def crc32Of(s: String): Long = {
    val c = new java.util.zip.CRC32(); c.update(s.getBytes("UTF-8")); c.getValue
  }
  private def sha1Of(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
