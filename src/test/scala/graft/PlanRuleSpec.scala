package graft

import graft.functions.Graft
import graft.plans.LshBandRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY §4.1's custom optimizer rule: brute-force jaccard joins
  * rewritten to banded equi-joins, opt-in, results unchanged on
  * corpora where banding is lossless (J=1 pairs: zero miss
  * probability).
  */
class PlanRuleSpec extends SparkSpec {

  private def pairsDf = {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "a b c"), (2L, "c b a"),       // same token SET -> J = 1
      (3L, "x y z"), (4L, "a b c d e f")  // J(1,4) = 0.5 < tau
    ).toDF("id", "txt")
    val sets = base.select(col("id"),
      array_sort(array_distinct(split(col("txt"), " "))).as("toks"))
    val l = sets.select(col("id").as("ida"), col("toks").as("ta"))
    val r = sets.select(col("id").as("idb"), col("toks").as("tb"))
    // the brute-force form a user writes: no equi key, jaccard filter
    l.join(r, expr("sorted_jaccard_min(ta, tb, 0.95) >= 0.95") &&
      col("ida") < col("idb")).select(col("ida"), col("idb"))
  }

  test("LshBandRewrite is inert by default and rewrites only when enabled") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)

    // flag off (default): the brute-force plan stands — no band keys
    val off = pairsDf
    assert(!off.queryExecution.optimizedPlan.toString.contains("_lsh_"),
      "rule fired without the conf flag")
    assert(off.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))

    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      val on = pairsDf
      val opt = on.queryExecution.optimizedPlan.toString
      assert(opt.contains("_lsh_bkey_l") && opt.contains("_lsh_bkey_r"),
        s"rule did not fire:\n$opt")
      // the lossless tau-length filter must ride the banded join
      assert(opt.contains("size("), s"length filter missing:\n$opt")
      // the physical join must be an equi-join on the band key, not a
      // quadratic fallback
      val phys = on.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct") &&
        !phys.contains("BroadcastNestedLoopJoin"),
        s"banded plan still quadratic:\n$phys")
      // identical results: J=1 pairs collide in every band, the kept
      // original predicate confirms exactly, distinct collapses the
      // per-band multiplicity
      assert(on.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 2L)))
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("rewrite also matches the raw-text token_jaccard form") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a b c"), (2L, "c b a"), (3L, "x y z")).toDF("id", "txt")
    val l = base.select(col("id").as("ida"), col("txt").as("sa"))
    val r = base.select(col("id").as("idb"), col("txt").as("sb"))
    def q = l.join(r, expr("token_jaccard(sa, sb) >= 0.95") &&
      col("ida") < col("idb")).select(col("ida"), col("idb"))
    val brute = q.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(brute === Set((1L, 2L)))
    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      val on = q
      assert(on.queryExecution.optimizedPlan.toString.contains("_lsh_bkey_l"))
      assert(on.collect().map(x => (x.getLong(0), x.getLong(1))).toSet === brute)
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("raw-text rewrite keeps token_jaccard pairs across messy whitespace") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    // docs 1-3 all have token set {a,b,c} under \s+/nonEmpty (J = 1
    // pairwise) but DIFFERENT single-0x20 splits: banding with
    // ngram_set(·,1) would size them 4/2/5 and the tau-length filter
    // would drop every pair at tau=0.95 (the ADVICE r12 high finding);
    // banding with token_set keeps them all
    val base = Seq((1L, "a  b c"), (2L, "a b\tc"), (3L, "\nc  b a "),
      (4L, "x y z")).toDF("id", "txt")
    val l = base.select(col("id").as("ida"), col("txt").as("sa"))
    val r = base.select(col("id").as("idb"), col("txt").as("sb"))
    def q = l.join(r, expr("token_jaccard(sa, sb) >= 0.95") &&
      col("ida") < col("idb")).select(col("ida"), col("idb"))
    val brute = q.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(brute === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      val on = q
      val opt = on.queryExecution.optimizedPlan.toString
      assert(opt.contains("_lsh_bkey_l") && opt.contains("token_set"),
        s"rule did not band with token_set:\n$opt")
      assert(on.collect().map(x => (x.getLong(0), x.getLong(1))).toSet === brute)
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("rewrite preserves brute-force multiplicity under duplicate input rows") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    // id 1 appears TWICE on each side; the r12 distinct-based rewrite
    // collapsed these, emitting one (1,2) row where brute force emits
    // four (2 copies × 2 copies). The first-shared-band filter keeps
    // per-ROW pairing, so counts — not just the pair set — must match
    val base = Seq((1L, "a b c"), (1L, "a b c"), (2L, "c b a"), (3L, "x y z"))
      .toDF("id", "txt")
    val sets = base.select(col("id"),
      array_sort(array_distinct(split(col("txt"), " "))).as("toks"))
    val l = sets.select(col("id").as("ida"), col("toks").as("ta"))
    val r = sets.select(col("id").as("idb"), col("toks").as("tb"))
    def q = l.join(r, expr("sorted_jaccard_min(ta, tb, 0.95) >= 0.95") &&
      col("ida") <= col("idb")).select(col("ida"), col("idb"))
    def counts(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(x => (x.getLong(0), x.getLong(1))).groupBy(identity)
        .view.mapValues(_.length).toMap
    val brute = counts(q.collect())
    // sanity on the fixture itself: (1,1) 2×2=4 self/cross copies,
    // (1,2) 2 copies × 1, (2,2) and (3,3) once
    assert(brute === Map((1L, 1L) -> 4, (1L, 2L) -> 2, (2L, 2L) -> 1, (3L, 3L) -> 1))
    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      val on = q
      assert(on.queryExecution.optimizedPlan.toString.contains("_lsh_pos_l"),
        "rewrite did not fire")
      assert(counts(on.collect()) === brute,
        "banded multiplicity diverged from brute force")
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("property: banded results are a subset of brute force and miss no J=1 pair") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    def pairs(q: DataFrame, banded: Boolean): Set[(Long, Long)] = {
      spark.conf.set(LshBandRewrite.EnabledKey, banded.toString)
      try q.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
    }
    // the kept original predicate means NO false positives, ever;
    // identical sets agree on every minhash -> collide in every band:
    // J=1 pairs are structurally immune to LSH misses
    def check(q: DataFrame, j1: Set[(Long, Long)]): Unit = {
      val brute = pairs(q, banded = false)
      val banded = pairs(q, banded = true)
      assert(banded.subsetOf(brute), s"invented pairs: ${banded -- brute}")
      assert(j1.nonEmpty, "corpus should contain set-equal pairs")
      assert(j1.subsetOf(banded), s"missed J=1 pairs: ${j1 -- banded}")
    }
    // random small-alphabet docs: plenty of set-equal (J=1) pairs plus
    // a band of partial overlaps around the tau=0.6 threshold
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val sets = docs.toDF("id", "txt").select(col("id"),
      array_sort(array_distinct(split(col("txt"), " "))).as("toks"))
    val l = sets.select(col("id").as("ida"), col("toks").as("ta"))
    val r = sets.select(col("id").as("idb"), col("toks").as("tb"))
    val local = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    check(
      l.join(r, expr("sorted_jaccard_min(ta, tb, 0.6) >= 0.6") &&
        col("ida") < col("idb")).select(col("ida"), col("idb")),
      (for {
        a <- local.keys; b <- local.keys
        if a < b && local(a) == local(b)
      } yield (a, b)).toSet)
    // the raw-text form a user writes over the real corpus: no equi
    // key, token_jaccard filter; its J=1 pairs come from brute force
    val corpus = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val la = corpus.select(col("doc_id").as("ida"), col("text").as("sa"))
    val rb = corpus.select(col("doc_id").as("idb"), col("text").as("sb"))
    def textJoin(tau: Double) = la.join(rb,
      expr(s"token_jaccard(sa, sb) >= $tau") && col("ida") < col("idb"))
      .select(col("ida"), col("idb"))
    check(textJoin(0.95), pairs(textJoin(1.0), banded = false))
  }

  test("tau <= 0 (a vacuous predicate) is left alone even when enabled") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a b"), (2L, "c d")).toDF("id", "txt")
    val sets = base.select(col("id"),
      array_sort(array_distinct(split(col("txt"), " "))).as("toks"))
    val l = sets.select(col("id").as("ida"), col("toks").as("ta"))
    val r = sets.select(col("id").as("idb"), col("toks").as("tb"))
    // jaccard >= 0 holds for EVERY pair: the join is a cross product
    // by intent and banding would drop almost all of it
    def q = l.join(r, expr("sorted_jaccard_min(ta, tb, 0.0) >= 0.0") &&
      col("ida") < col("idb")).select(col("ida"), col("idb"))
    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      assert(!q.queryExecution.optimizedPlan.toString.contains("_lsh_"),
        "rule fired on a vacuous tau<=0 predicate")
      assert(q.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ===
        Set((1L, 2L)))
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("null and empty sets are pruned losslessly, not banded into one bucket") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    // two J=1 pairs plus null-text and whitespace-only (empty-set) rows
    val base = Seq((1L, "a b c"), (2L, "c b a"), (3L, null),
      (4L, " "), (5L, null), (6L, "x y"), (7L, "y x")).toDF("id", "txt")
    val sets = base.select(col("id"), when(col("txt").isNotNull,
      array_sort(array_remove(array_distinct(split(col("txt"), "\\s+")), ""))).as("toks"))
    val l = sets.select(col("id").as("ida"), col("toks").as("ta"))
    val r = sets.select(col("id").as("idb"), col("toks").as("tb"))
    def q = l.join(r, expr("sorted_jaccard_min(ta, tb, 0.9) >= 0.9") &&
      col("ida") < col("idb")).select(col("ida"), col("idb"))
    val brute = q.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(brute === Set((1L, 2L), (6L, 7L)))
    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      val on = q
      val opt = on.queryExecution.optimizedPlan.toString
      assert(opt.contains("_lsh_bkey_l"), s"rule did not fire:\n$opt")
      // the prune must ride the banded sides so null/empty rows never
      // reach the band join (they all share the same 8 band keys);
      // `size(..) > 0` is the rule's own conjunct — isnotnull alone
      // could come from constraint inference
      assert(opt.contains("isnotnull") && opt.contains("> 0"),
        s"null/empty prune missing:\n$opt")
      assert(on.collect().map(x => (x.getLong(0), x.getLong(1))).toSet === brute)
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("rewrite bands arbitrary set expressions: the ngram_set shingle form") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    // bigram-shingle jaccard: docs 1/2 share every bigram (identical
    // text), doc 3 is disjoint — the banding must ride ngram_set
    // itself, not assume a token-set column exists
    val base = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("id", "txt")
    val l = base.select(col("id").as("ida"), col("txt").as("sa"))
    val r = base.select(col("id").as("idb"), col("txt").as("sb"))
    def q = l.join(r,
      expr("sorted_jaccard_min(ngram_set(sa, 2), ngram_set(sb, 2), 0.9) >= 0.9") &&
        col("ida") < col("idb")).select(col("ida"), col("idb"))
    val brute = q.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(brute === Set((1L, 2L)))
    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      val on = q
      val opt = on.queryExecution.optimizedPlan.toString
      assert(opt.contains("_lsh_bkey_l") && opt.contains("ngram_set"),
        s"rule did not band the ngram_set expression:\n$opt")
      assert(on.collect().map(x => (x.getLong(0), x.getLong(1))).toSet === brute)
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("a non-groupable (map) join output column no longer blocks the rewrite") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    val s = spark
    import s.implicits._
    // the r13 rewrite dedup'd with an Aggregate over ALL join output
    // columns, so a map column forced it to decline; the
    // first-shared-band filter has no grouping step, so the banded
    // plan now fires and must carry the map through unchanged
    val base = Seq((1L, "a b c"), (2L, "c b a"), (3L, "x y")).toDF("id", "txt")
    val sets = base.select(col("id"),
      array_sort(array_distinct(split(col("txt"), " "))).as("toks"),
      map(lit("k"), col("id")).as("meta"))
    val l = sets.select(col("id").as("ida"), col("toks").as("ta"), col("meta"))
    val r = sets.select(col("id").as("idb"), col("toks").as("tb"))
    def q = l.join(r, expr("sorted_jaccard_min(ta, tb, 0.9) >= 0.9") &&
      col("ida") < col("idb")).select(col("ida"), col("idb"), col("meta"))
    spark.conf.set(LshBandRewrite.EnabledKey, "true")
    try {
      assert(q.queryExecution.optimizedPlan.toString.contains("_lsh_"),
        "rule declined despite having no grouping step")
      val rows = q.collect()
      assert(rows.map(x => (x.getLong(0), x.getLong(1))).toSet === Set((1L, 2L)))
      assert(rows.head.getMap[String, Long](2) === Map("k" -> 1L))
    } finally spark.conf.set(LshBandRewrite.EnabledKey, "false")
  }

  test("declared llm keys are unaffected by the rule being installed") {
    Graft.registerAll(spark)
    LshBandRewrite.install(spark)
    // flag stays default-off: the banded pipeline keys plan as before
    val df = graft.operators.LlmText.queries("llm_dedup_minhash")(spark, sf)
    assert(!df.queryExecution.optimizedPlan.toString.contains("_lsh_"))
    assert(df.count() > 0)
  }

  // ---- materialized-view automatic rewrite (VERDICT r16 #2) ----

  private def mvQuery(factPath: String) =
    spark.read.parquet(factPath)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_price")).as("sum_price"), count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))

  /** Every parquet path the optimized plan scans (the relation's
    * toString omits its location, so asserts must read the file
    * index directly). */
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toUri.getPath)
          case _ => Seq.empty
        }
    }.flatten

  /** The data dirs of the summary version serving rewrites for a fact
    * path (each rebuild commits a new version of the snapshot table at
    * the declared summary root and swaps the registry pointer — r18). */
  private def mvDataPath(factPath: String): Seq[String] =
    graft.plans.MvRewrite.registered(spark, factPath)
      .getOrElse(fail(s"no MV registered for $factPath")).dirs

  test("mv rewrite: the roll-up aggregate scans the summary, never the fact") {
    val (factPath, mvPath) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    val on = mvQuery(factPath)
    assert(scanPaths(on) === mvDataPath(factPath),
      s"expected only the summary scan:\n${on.queryExecution.optimizedPlan}")
    assert(mvDataPath(factPath).forall(_.startsWith(mvPath)),
      "summary versions must live under the declared summary root")

    // row identity vs the unrewritten plan, bit-exact (decimal sums)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
    try {
      val off = mvQuery(factPath)
      assert(scanPaths(off) === Seq(factPath))
      assert(on.collect().toSeq === off.collect().toSeq)
    } finally spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
  }

  test("mv rewrite declines out-of-scope queries: filters, unknown aggs, unregistered scans") {
    val (factPath, _) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    val mvData = mvDataPath(factPath)
    def servedByMv(df: org.apache.spark.sql.DataFrame) =
      scanPaths(df).exists(mvData.contains)
    // a filtered fact scan must NOT be served from whole-table totals
    val filtered = spark.read.parquet(factPath)
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(sum(col("l_price")).as("s"))
    assert(!servedByMv(filtered))
    // an aggregate outside the mergeable set declines: stddev needs a
    // Σm² partial the summary does not carry (avg, by contrast, IS
    // decomposable and rewrites — see the dedicated avg tests)
    val sd = spark.read.parquet(factPath)
      .groupBy(col("l_returnflag")).agg(stddev(col("l_quantity")).as("sd"))
    assert(!servedByMv(sd))
    // distinct aggregation declines (not derivable from partials)
    val dist = spark.read.parquet(factPath)
      .groupBy(col("l_returnflag")).agg(countDistinct(col("l_quantity")).as("d"))
    assert(!servedByMv(dist))
    // an unregistered parquet scan of the same shape is untouched
    val other = Tables.raw(spark, sf, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(!servedByMv(other))
    // non-LEGACY avg declines (r18 advice): try_avg's TRY evalMode
    // carries overflow semantics the Divide pipeline does not
    // reproduce — it must read the fact table, not the summary
    val tryAvg = spark.read.parquet(factPath)
      .groupBy(col("l_returnflag"))
      .agg(expr("try_avg(l_quantity)").as("ta"))
    assert(!servedByMv(tryAvg),
      s"try_avg must decline the rewrite:\n${tryAvg.queryExecution.optimizedPlan}")
  }

  test("mv rewrite serves a DIMENSION-filtered aggregate from the summary (exact group selection)") {
    val (factPath, _) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def dimFiltered() = spark.read.parquet(factPath)
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_price")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    val on = dimFiltered()
    assert(scanPaths(on) === mvDataPath(factPath),
      s"dim-only filter must move onto the summary:\n${on.queryExecution.optimizedPlan}")
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
    try assert(on.collect().toSeq === dimFiltered().collect().toSeq)
    finally spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
  }

  test("mv rewrite freshness contract: stale until re-materialized, fresh after") {
    val (factPath, mvPath) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def q() = spark.read.parquet(factPath)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    val before = q().collect().toSeq
    // fact gains rows; the view intentionally serves the LAST
    // materialization (Hive's rewriting window semantics)
    // append from materialized rows: a self-referential
    // read-limit-append on one path silently writes nothing
    val extraRows = spark.read.parquet(factPath).limit(7).collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(extraRows.toIndexedSeq),
        spark.read.parquet(factPath).schema)
      .write.mode("append").parquet(factPath)
    try {
      assert(q().collect().toSeq === before, "rewrite must serve the stale summary")
      // rebuild (ALTER MATERIALIZED VIEW ... REBUILD) → fresh answers
      graft.plans.MvRewrite.materialize(spark, "mv_lineitem_pricing",
        spark.read.parquet(factPath), factPath,
        dims = Seq("l_returnflag", "l_linestatus"),
        measures = Seq("l_price", "l_quantity"), mvPath)
      val fresh = q()
      // the rebuild rotated to a new version dir under the same root
      assert(scanPaths(fresh) === mvDataPath(factPath))
      assert(mvDataPath(factPath).forall(_.startsWith(mvPath)))
      val freshRows = fresh.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val beforeRows = before.map(r => (r.getString(0), r.getLong(1))).toMap
      assert(freshRows.values.sum === beforeRows.values.sum + 7,
        "after REBUILD the summary must reflect the appended rows")
    } finally {
      // restore the staged fact + summary for any later test/key
      operators.Aggregates.resetMvDemo(spark, sf)
    }
  }

  test("incremental mv rebuild absorbs only new partitions and equals a full rebuild") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_planrule/mvinc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val factPath = s"$base/fact"
    val mvPath = s"$base/mv"
    val fullPath = s"$base/mv_full"
    val o = Tables.t(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .select(col("o_orderstatus"), Q.dec(col("o_totalprice")).as("o_price"),
        col("o_year"))
    o.filter(col("o_year") <= 1996).repartition(col("o_year"))
      .write.mode("overwrite").partitionBy("o_year").parquet(factPath)
    val mv = graft.plans.MvRewrite.materializePartitioned(spark, "mv_inc_spec",
      factPath, "o_year", dims = Seq("o_orderstatus"),
      measures = Seq("o_price"), mvPath)

    // the later years arrive as INSERT-only new partitions
    val newDirs = o.filter(col("o_year") >= 1997).select(col("o_year"))
      .distinct().collect().map(r => s"o_year=${r.getInt(0)}").toSet
    assert(newDirs.nonEmpty, "fixture needs post-1996 years")
    o.filter(col("o_year") >= 1997).repartition(col("o_year"))
      .write.mode("append").partitionBy("o_year").parquet(factPath)

    val delta = graft.plans.MvRewrite.rebuildIncremental(spark, mv)
    assert(delta.toSet === newDirs, s"must absorb exactly the new dirs: $delta")
    // already current → no-op, even through the stale handle (the
    // registry, not the handle, tracks coverage)
    assert(graft.plans.MvRewrite.rebuildIncremental(spark, mv).isEmpty)

    // the merged-partials summary is indistinguishable from a full
    // rebuild over the now-complete fact: same schema, same rows
    graft.plans.MvRewrite.materialize(spark, "mv_inc_spec_full",
      spark.read.parquet(factPath), s"$base/unscanned_fact_key",
      dims = Seq("o_orderstatus"), measures = Seq("o_price"), fullPath)
    val inc = spark.read.parquet(mvDataPath(factPath): _*)
    val full = spark.read.parquet(mvDataPath(s"$base/unscanned_fact_key"): _*)
    assert(inc.schema.map(f => (f.name, f.dataType)) ===
      full.schema.map(f => (f.name, f.dataType)),
      "incremental rebuild must not drift the summary schema")
    assert(inc.orderBy(col("o_orderstatus")).collect().toSeq ===
      full.orderBy(col("o_orderstatus")).collect().toSeq)

    // and the rewrite serves the post-insert query from it, exactly
    graft.plans.MvRewrite.install(spark)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def q() = spark.read.parquet(factPath)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("o_price")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
    val on = q()
    assert(scanPaths(on) === mvDataPath(factPath),
      s"post-rebuild query must scan only the summary:\n${on.queryExecution.optimizedPlan}")
    assert(mvDataPath(factPath).forall(_.startsWith(mvPath)))
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
    try assert(on.collect().toSeq === q().collect().toSeq)
    finally spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
  }

  test("materialize after a restart commits past the summary versions already on disk") {
    // a restart onto a persistent summary root: a prior process left
    // versions 1 and 2; the first materialize after restart must claim
    // version 3 and leave version 2 readable, never overwrite it
    val base = s"${sys.props("java.io.tmpdir")}/graft_planrule/mvrestart"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val factPath = s"$base/fact"
    val mvPath = s"$base/mv"
    val s = spark
    import s.implicits._
    Tables.t(spark, sf, "orders")
      .select(col("o_orderstatus"), Q.dec(col("o_totalprice")).as("o_price"))
      .write.mode("overwrite").parquet(factPath)
    graft.sources.Snapshots.commit(spark, mvPath,
      Seq(("old1", 1L)).toDF("o_orderstatus", "cnt_rows"), 0L)
    graft.sources.Snapshots.commit(spark, mvPath,
      Seq(("old2", 2L)).toDF("o_orderstatus", "cnt_rows"), 1L)
    val mv = graft.plans.MvRewrite.materialize(spark, "mv_restart_spec",
      spark.read.parquet(factPath), factPath,
      dims = Seq("o_orderstatus"), measures = Seq("o_price"), mvPath)
    assert(mv.version === 3L,
      s"materialize after restart must claim the next version, got v=${mv.version}")
    assert(graft.sources.Snapshots.readAsOf(spark, mvPath, 2L)
      .as[(String, Long)].collect().toSeq === Seq(("old2", 2L)),
      "the previous process's newest version must not be overwritten")
  }

  test("unregister drops the view: aggregates over the fact plan against the fact again") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_planrule/mvunreg"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val factPath = s"$base/fact"
    Tables.t(spark, sf, "orders")
      .select(col("o_orderstatus"), Q.dec(col("o_totalprice")).as("o_price"))
      .write.mode("overwrite").parquet(factPath)
    graft.plans.MvRewrite.materialize(spark, "mv_unregister_spec",
      spark.read.parquet(factPath), factPath,
      dims = Seq("o_orderstatus"), measures = Seq("o_price"), s"$base/mv")
    graft.plans.MvRewrite.install(spark)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def q() = spark.read.parquet(factPath)
      .groupBy(col("o_orderstatus")).agg(sum(col("o_price")).as("s"))
    assert(scanPaths(q()) === mvDataPath(factPath), "precondition: the view serves")
    graft.plans.MvRewrite.unregister(spark, factPath)
    assert(graft.plans.MvRewrite.registered(spark, factPath).isEmpty)
    assert(scanPaths(q()) === Seq(factPath),
      s"an unregistered fact must be scanned itself:\n${q().queryExecution.optimizedPlan}")
  }

  test("mv rewrite serves the GLOBAL aggregate (empty group-by) from the summary too") {
    val (factPath, _) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def global() = spark.read.parquet(factPath)
      .agg(sum(col("l_price")).as("total"), count(lit(1)).as("n"))
    val on = global()
    assert(scanPaths(on) === mvDataPath(factPath))
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
    try assert(on.collect().toSeq === global().collect().toSeq)
    finally spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
  }

  test("mv rewrite serves grouped avg — decimal AND double measures — bit-identically (r17 #3)") {
    val (factPath, _) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    // l_price is decimal(18,2) (the decimal-division typing the r17
    // verdict called out: avg → decimal(22,6), internal divide
    // decimal(28,2)/decimal(20,0)); l_quantity is double
    def q() = spark.read.parquet(factPath)
      .groupBy(col("l_returnflag"))
      .agg(avg(col("l_price")).as("avg_price"),
        avg(col("l_quantity")).as("avg_qty"),
        sum(col("l_price")).as("s"))
      .orderBy(col("l_returnflag"))
    val on = q()
    assert(scanPaths(on) === mvDataPath(factPath),
      s"avg must be served from the summary:\n${on.queryExecution.optimizedPlan}")
    // output types must be exactly the fact-side avg's declared types
    assert(on.schema("avg_price").dataType ===
      org.apache.spark.sql.types.DecimalType(22, 6))
    assert(on.schema("avg_qty").dataType ===
      org.apache.spark.sql.types.DoubleType)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
    try {
      val off = q()
      assert(scanPaths(off) === Seq(factPath))
      // bit-exact, decimal rounding included: Σs_m is cast back to the
      // fact-side sum-buffer type before the divide, so the rewrite
      // rounds at the same intermediate scale as Average itself
      assert(on.collect().toSeq === off.collect().toSeq)
    } finally spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
  }

  test("mv rewrite serves the GLOBAL avg from the summary bit-identically") {
    val (factPath, _) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def q() = spark.read.parquet(factPath)
      .agg(avg(col("l_price")).as("avg_price"),
        avg(col("l_quantity")).as("avg_qty"))
    val on = q()
    assert(scanPaths(on) === mvDataPath(factPath))
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
    try assert(on.collect().toSeq === q().collect().toSeq)
    finally spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
  }

  test("mv rewrite serves a dim-FILTERED avg from the summary bit-identically") {
    val (factPath, _) = operators.Aggregates.mvDemo(spark, sf)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def q() = spark.read.parquet(factPath)
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(avg(col("l_price")).as("avg_price"))
      .orderBy(col("l_returnflag"))
    val on = q()
    assert(scanPaths(on) === mvDataPath(factPath))
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "false")
    try assert(on.collect().toSeq === q().collect().toSeq)
    finally spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
  }

  test("mv rebuild suppression is THREAD-scoped: a concurrent reader never loses the rewrite (r17 #6)") {
    // dedicated fixture — racing a rebuild on mvDemo's view would
    // perturb the keys' staged state
    val base = s"${sys.props("java.io.tmpdir")}/graft_planrule/mvrace"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val factPath = s"$base/fact"
    val mvPath = s"$base/mv"
    Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        Q.dec(col("l_extendedprice")).as("l_price"))
      .write.mode("overwrite").parquet(factPath)
    def rebuild(): Unit =
      graft.plans.MvRewrite.materialize(spark, "mv_race_spec",
        spark.read.parquet(factPath), factPath,
        dims = Seq("l_returnflag"), measures = Seq("l_price"), mvPath)
    rebuild()
    graft.plans.MvRewrite.install(spark)
    spark.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    def plannedScans() = scanPaths(
      spark.read.parquet(factPath)
        .groupBy(col("l_returnflag")).agg(sum(col("l_price")).as("s")))
    // reader thread: PLANS the rewritten query continuously (plan-only
    // — executing would race the summary files the rebuild overwrites,
    // a filesystem concern orthogonal to rule visibility) and records
    // any planning pass that lost the rewrite. Pre-r18, materialize
    // flipped the session conf off and this reader observed fact-path
    // scans mid-rebuild.
    val lost = new java.util.concurrent.atomic.AtomicInteger(0)
    val passes = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try while (!stop.get()) {
        // any registered VERSION dir is a correct (complete) summary;
        // planning against the fact — or failing to plan — is a loss
        val ps = plannedScans()
        if (!(ps.length == 1 && ps.head.startsWith(s"$mvPath/data/"))) lost.incrementAndGet()
        passes.incrementAndGet()
      } catch { case t: Throwable => readerErr.set(t) }
    })
    reader.start()
    try (1 to 5).foreach(_ => rebuild())
    finally { stop.set(true); reader.join(30000) }
    assert(readerErr.get() == null, s"reader failed: ${readerErr.get()}")
    assert(passes.get() > 0, "reader never ran")
    assert(lost.get() === 0,
      s"${lost.get()}/${passes.get()} planning passes lost the rewrite during rebuilds")
    // and the rebuilds themselves stayed suppressed on their own
    // thread: the refreshed summary reflects the fact, not itself
    val served = spark.read.parquet(factPath)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(scanPaths(served) === mvDataPath(factPath))
    val expected = Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(served.collect().map(r => (r.getString(0), r.getLong(1))).toMap === expected)
  }
}
