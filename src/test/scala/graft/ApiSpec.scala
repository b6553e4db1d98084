package graft

import graft.api.{TextOps, VectorOps}
import org.apache.spark.sql.functions._

/** The graft.api surface must work on ARBITRARY DataFrames with
  * caller-named columns — not just the test tables. These suites
  * drive it with hand-built frames.
  */
class ApiSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "alpha beta gamma delta"),      // exact dup of 10
      (12L, "alpha beta gamma epsilon"),    // near dup (J=0.6)
      (13L, "zeta eta theta iota kappa"),   // unrelated
      (14L, "beta alpha delta gamma")       // same SET as 10, new order
    ).toDF("my_id", "my_text")
  }

  test("exactDedupGroups on caller-named columns") {
    val g = TextOps.exactDedupGroups(docs, "my_id", "my_text")
    assert(g.count() === 4) // 10 and 11 collapse
    assert(g.agg(sum("n_copies")).head.getLong(0) === 5)
  }

  test("minhashNearDupPairs finds set-equal and exact-dup docs") {
    val pairs = TextOps.minhashNearDupPairs(docs, "my_id", "my_text", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10, 11, 14 share one token set -> all three pairs
    assert(pairs === Set((10L, 11L), (10L, 14L), (11L, 14L)))
  }

  test("ngramJaccardPairs is order-sensitive where minhash is not") {
    val pairs = TextOps.ngramJaccardPairs(docs, "my_id", "my_text", n = 2, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 14 has the same token SET as 10/11 but different bigrams
    assert(pairs === Set((10L, 11L)))
  }

  test("simhashNearDupPairs with a generous hamming bound matches minhash") {
    val pairs = TextOps.simhashNearDupPairs(docs, "my_id", "my_text",
      tau = 0.95, maxHamming = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L), (10L, 14L), (11L, 14L)))
  }

  test("simhash = shared confirmed pairs restricted by hamming (r22 reuse)") {
    // the r22 rewrite serves simhash from the SAME cached confirm the
    // minhash/cluster flavors use, filtered by hamming afterwards —
    // equivalence: both hamming and the exact confirm are pure per-pair
    // functions of the token sets, so filter-after-confirm ≡
    // prefilter-then-confirm. Pin both ends of the bound:
    // maxHamming = 0 keeps exactly the identical-set pairs (equal sets
    // ⇒ equal simhash ⇒ hamming 0), j carried through as 1.0 …
    val tight = TextOps.simhashNearDupPairs(docs, "my_id", "my_text",
      tau = 0.95, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tight === Set((10L, 11L, 1.0), (10L, 14L, 1.0), (11L, 14L, 1.0)))
    // … and a generous bound matches the minhash flavor ROW-FOR-ROW,
    // j values included (the cached confirm serves both flavors)
    val sim = TextOps.simhashNearDupPairs(docs, "my_id", "my_text",
      tau = 0.95, maxHamming = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mh = TextOps.minhashNearDupPairs(docs, "my_id", "my_text", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sim === mh)
  }

  test("dedup kernels run inside whole-stage codegen, not interpreted fallback") {
    // the kernels exist to keep the narrow signature/confirm stages in
    // generated code; a CodegenFallback regression (e.g. dropping
    // doGenCode) would silently de-optimize every dedup flavor. WSCG
    // spans render as "*(n)" prefixes in the executed plan.
    graft.functions.Graft.registerAll(spark)
    // a parquet scan source: a local Seq relation gets constant-folded
    // into a LocalTableScan before any codegen happens
    val df = Tables.t(spark, sf, "documents")
      .selectExpr("ngram_set(text, 2) AS toks")
      .selectExpr("minhash_sig(toks, 32) AS sig", "simhash_sig(toks) AS sim")
    // collect() (not count(), which plans a separate aggregate query)
    // so THIS queryExecution runs: AQE only renders WSCG "*(n)" spans
    // on the final plan
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    for (k <- Seq("ngram_set", "minhash_sig", "simhash_sig")) {
      // a codegen'd operator line reads like "+- *(1) Project [ngram_set(..."
      val line = plan.linesIterator.find(_.contains(k))
      assert(line.exists(l => l.indexOf("*(") >= 0 && l.indexOf("*(") < l.indexOf(k)),
        s"$k not inside a WholeStageCodegen span:\n$plan")
    }
  }

  test("collapse registry eviction never breaks a returned lazy frame") {
    val s = spark
    import s.implicits._
    // hold a LAZY result over corpus A, then churn the bounded cache
    // registry past its capacity with distinct collapses (B, C, and a
    // shingle flavor) so A's cached collapse is evicted, THEN evaluate
    // A: the frame must recompute transparently and stay correct
    val lazyA = TextOps.minhashNearDupPairs(docs, "my_id", "my_text", tau = 0.95)
    val corpusB = Seq((1L, "u v w"), (2L, "u v w"), (3L, "x y z"))
      .toDF("id", "txt")
    val corpusC = Seq((7L, "p q r s"), (8L, "p q r s"), (9L, "m n o"))
      .toDF("id", "txt")
    assert(TextOps.minhashNearDupPairs(corpusB, "id", "txt", tau = 0.95)
      .count() === 1)
    assert(TextOps.ngramJaccardPairs(corpusB, "id", "txt", n = 2, tau = 0.5)
      .count() === 1)
    assert(TextOps.minhashNearDupPairs(corpusC, "id", "txt", tau = 0.95)
      .count() === 1)
    val pairs = lazyA.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L), (10L, 14L), (11L, 14L)))
  }

  test("collapse registry verifies plan equality on hit: a forced key collision never returns the wrong corpus") {
    val s = spark
    import s.implicits._
    // two semantically DIFFERENT corpora registered under the SAME key
    // simulate a 32-bit semanticHash collision: the sameResult check
    // must reject the stale entry and build fresh, not silently hand
    // corpus X's collapse to corpus Y (a wrong dedup answer)
    val corpusX = Seq((1L, "a b c"), (2L, "a b c"), (3L, "q r s")).toDF("id", "txt")
    val corpusY = Seq((1L, "m n"), (2L, "x y"), (3L, "z w")).toDF("id", "txt")
    val (bx, gx) = TextOps.collapseParts(corpusX, "id", TextOps.tokenSet(col("txt")))
    val (by, gy) = TextOps.collapseParts(corpusY, "id", TextOps.tokenSet(col("txt")))
    val cx = TextOps.collapseKeyed("forced-collision", bx, gx)
    val cy = TextOps.collapseKeyed("forced-collision", by, gy)
    assert(!(cx eq cy), "collided key returned the other corpus's cached collapse")
    assert(cy.groups.count() === 3) // corpus Y: 3 distinct token sets
    assert(cx.groups.count() === 2) // stale instance stays lazily correct
    // same key + same plan still reuses the registered instance
    assert(TextOps.collapseKeyed("forced-collision", by, gy) eq cy)
  }

  /** The RDD a frame reads when it plans over a local-checkpoint pin. */
  private def pinnedRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE => Some(r.rdd)
      case _ => None
    }

  test("bandedSignatures after eviction never creates an unowned cache") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "h i j"), (2L, "h i j"), (3L, "k l m")).toDF("id", "txt")
    val (b, g) = TextOps.collapseParts(corpus, "id", TextOps.tokenSet(col("txt")))
    val c = TextOps.collapseKeyed("evict-target", b, g)
    assert(pinnedRdd(c.groups).isDefined && pinnedRdd(c.membership).isDefined,
      "live collapse should pin its groups and membership")
    assert(pinnedRdd(c.bandedSignatures(32, 8)).isDefined,
      "live collapse should pin its banded signatures")
    def fakeConfirm() = c.cachedConfirmedPairs(0.9, 32, 8) {
      c.groups.select(col("rep").as("a"), col("rep").as("b"),
        org.apache.spark.sql.functions.lit(1.0).as("j"))
    }
    assert(pinnedRdd(fakeConfirm()).isDefined,
      "live collapse should pin its confirmed rep pairs")
    c.evict() // what registry eviction calls
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val sig = c.bandedSignatures(32, 8)
    assert(pinnedRdd(sig).isEmpty, "evicted collapse pinned a frame nothing owns")
    assert(sig.count() === 16) // 2 reps x 8 bands, recomputed correctly
    val conf = fakeConfirm()
    assert(pinnedRdd(conf).isEmpty,
      "evicted collapse pinned a confirmed-pairs frame nothing owns")
    assert(conf.count() === 2)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a frame built after eviction persisted an RDD")
  }

  test("eviction of a poisoned entry (e.g. stopped session) never fails a live collapse") {
    val s = spark
    import s.implicits._
    val (b, g) = TextOps.collapseParts(docs, "my_id", TextOps.tokenSet(col("my_text")))
    def poisoned() = new TextOps.Collapsed(g.queryExecution.analyzed, g, b) {
      override def evict(): Unit =
        throw new IllegalStateException("SparkSession already stopped")
    }
    // fill the bounded registry with entries whose cleanup throws
    TextOps.registerCollapsed("poison-a", poisoned())
    TextOps.registerCollapsed("poison-b", poisoned())
    // the next real collapses must evict them without propagating
    val corpusB = Seq((1L, "u v w"), (2L, "u v w"), (3L, "x y z")).toDF("id", "txt")
    assert(TextOps.minhashNearDupPairs(corpusB, "id", "txt", tau = 0.95).count() === 1)
    assert(TextOps.ngramJaccardPairs(corpusB, "id", "txt", n = 2, tau = 0.5).count() === 1)
  }

  test("a frame held across its collapse's eviction gives the rows of a fresh run") {
    val s = spark
    import s.implicits._
    def corpus(seed: Int) = (1 to 6).map(i => (i.toLong,
      if (i <= 3) s"s$seed a b c d" else s"s$seed e$i f$i g$i")).toDF("id", "txt")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = corpus(0)
    val held = TextOps.minhashNearDupPairs(a, "id", "txt", tau = 0.95)
    val first = pairs(held) // materializes A's pins
    val ca = TextOps.collapse(a, "id", TextOps.tokenSet(col("txt")))
    (1 to 4).foreach(i => TextOps.minhashNearDupPairs(corpus(i), "id", "txt", tau = 0.95).count())
    assert(ca.evicted, "four other corpora should evict A from the 4-slot registry")
    assert(first === Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
    assert(pairs(held) === first)
    assert(pairs(TextOps.minhashNearDupPairs(corpus(0), "id", "txt", tau = 0.95)) === first)
  }

  test("a registry hit whose pins lost their blocks rebuilds and returns the right rows") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    // groups, membership, banded signatures, confirmed pairs: on a
    // fresh corpus each, drop one pin behind the registry's back
    (0 until 4).foreach { i =>
      val d = Seq((1L, s"p$i q r s"), (2L, s"p$i q r s"), (3L, "t u v w"), (4L, s"p$i q r s"))
        .toDF("id", "txt")
      def run() = Seq(TextOps.minhashNearDupPairs(d, "id", "txt", tau = 0.95),
          TextOps.simhashNearDupPairs(d, "id", "txt", tau = 0.95, maxHamming = 8))
        .map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      val fresh = run()
      assert(fresh === Seq.fill(2)(Set((1L, 2L), (1L, 4L), (2L, 4L))))
      val pins = TextOps.collapse(d, "id", TextOps.tokenSet(col("txt"))).pins.flatMap(pinnedRdd)
      assert(pins.size === 4, "the entry should own four pins after a minhash run")
      sc.getPersistentRDDs(pins(i).id).unpersist(blocking = true)
      assert(run() === fresh, s"after unpersisting pin $i")
    }
  }

  test("cosine ops on a caller-shaped vector frame") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vid", "emb")
    val topk = VectorOps.cosineTopK(vecs, vecs.filter(col("vid") === 1), "vid", "emb", k = 1)
      .collect()
    assert(topk.length === 1)
    assert(topk.head.getLong(2) === 2L) // nearest neighbour of 1 is 2
    val pairs = VectorOps.cosineThresholdPairs(vecs, "vid", "emb", tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // ivfTopK on a corpus smaller than the default cell count must
    // degrade gracefully (cells clamp to the sample size) and still
    // return the true neighbour here (3 vectors = every cell probed)
    val ivf = VectorOps.ivfTopK(vecs, vecs.filter(col("vid") === 1), "vid", "emb", k = 1)
      .collect()
    assert(ivf.length === 1 && ivf.head.getLong(2) === 2L)
    // build-once/probe-many: one index serves multiple probe batches
    // and agrees with the one-shot form
    val idx = VectorOps.buildIvfIndex(vecs, "vid", "emb")
    val p1 = VectorOps.ivfProbe(idx, vecs.filter(col("vid") === 1), "vid", "emb", k = 1)
      .collect()
    val p3 = VectorOps.ivfProbe(idx, vecs.filter(col("vid") === 3), "vid", "emb", k = 1)
      .collect()
    assert(p1.map(r => (r.getLong(0), r.getLong(2))).toSeq === Seq((1L, 2L)))
    assert(p3.length === 1 && p3.head.getLong(0) === 3L)
  }

  test("minhashNearDupClusters assigns every doc; components match the pair graph") {
    val clusters = TextOps.minhashNearDupClusters(docs, "my_id", "my_text", tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every input doc gets a label; singletons keep their own id
    assert(clusters.keySet === Set(10L, 11L, 12L, 13L, 14L))
    // {10,11,14} form one near-dup component labeled by its min id
    assert(clusters(10L) === 10L && clusters(11L) === 10L && clusters(14L) === 10L)
    assert(clusters(12L) === 12L && clusters(13L) === 13L)
    // equivalence with the pair form: two docs share a label iff they
    // are connected in the pair graph (here: exactly the one clique)
    val pairs = TextOps.minhashNearDupPairs(docs, "my_id", "my_text", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sameLabel = (for {
      a <- clusters.keys; b <- clusters.keys
      if a < b && clusters(a) == clusters(b)
    } yield (a, b)).toSet
    assert(sameLabel === pairs)
  }

  test("subset clusters via corpus-cache reuse ≡ fresh clusters over the subset") {
    // the r21 pipeline optimization: near-dup clusters of a FILTERED
    // corpus reuse the corpus-level collapse + confirmed pair graph
    // instead of re-running the whole LSH pipeline. Row-identity with
    // the fresh form must hold on every subset shape — including ones
    // where the subset's re-repped set ids ORDER differently than the
    // corpus reps (doc 10 filtered out below makes set {alpha beta
    // gamma delta}'s rep jump 10 → 11 while {**} stays).
    val d = Tables.t(spark, sf, "documents")
    for (keep <- Seq(col("doc_id") % 3 =!= 0, col("doc_id") % 20 =!= 1)) {
      val surviving = d.filter(keep).select(col("doc_id"))
      val fresh = TextOps.minhashNearDupClusters(
          d.filter(keep), "doc_id", "text", tau = 0.95)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val reused = TextOps.minhashNearDupClustersOfSubset(
          d, "doc_id", "text", surviving, tau = 0.95)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reused === fresh, "cache-reuse subset clusters must be " +
        s"row-identical to the fresh run (filter $keep)")
      assert(fresh.nonEmpty)
    }
    // the hand-built corpus: dropping the component's min id must
    // re-rep the surviving component (label 11, not the dead 10)
    val sub = docs.filter(col("my_id") =!= 10L).select(col("my_id"))
    val reused = TextOps.minhashNearDupClustersOfSubset(
        docs, "my_id", "my_text", sub, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reused === Map(11L -> 11L, 12L -> 12L, 13L -> 13L, 14L -> 11L))
  }

  test("driver union-find and distributed CC loop produce identical labels") {
    // real graph: the sf testbed documents corpus (many multi-node
    // components). maxDriverEdges=0 forces the distributed loop;
    // the default gate takes the driver union-find.
    val d = Tables.t(spark, sf, "documents")
    def labels(gate: Long) = TextOps
      .minhashNearDupClusters(d, "doc_id", "text", tau = 0.9, maxDriverEdges = gate)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = labels(1000000L)
    val loop = labels(0L)
    assert(driver === loop)
    // string ids with a supplementary character: Spark's min() orders
    // by UTF-8 bytes, so the driver path must too (U+10000 sorts
    // AFTER U+FFFD in UTF-8 but BEFORE it in UTF-16). The two texts
    // must be near-dup but NOT identical — identical texts collapse to
    // one rep and the solvers would see an empty graph (the ordering
    // under test would never run); distinct 10-vs-9-token subsets give
    // J = 0.9 ≥ tau, a real confirmed rep pair with string-typed ids.
    import spark.implicits._
    val t10 = (1 to 10).map(i => s"tok$i").mkString(" ")
    val t9 = (1 to 9).map(i => s"tok$i").mkString(" ")
    val uni = Seq(("�", t10), ("𐀀", t9)).toDF("sid", "body")
    def uniLabels(gate: Long) = TextOps
      .minhashNearDupClusters(uni, "sid", "body", tau = 0.85, maxDriverEdges = gate)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val uDriver = uniLabels(1000000L)
    assert(uDriver === uniLabels(0L)) // gate 0 forces the loop path
    // vacuity guard: the pair must actually confirm (both ids share
    // one label) or the ordering assertion below tests nothing
    assert(uDriver.values.toSet.size === 1)
    assert(uDriver.values.toSet === Set("�")) // the UTF-8 min labels both
  }

  test("crossNearDupPairs: finds exact and near cross-corpus overlaps, never within-side pairs") {
    import spark.implicits._
    val evalSet = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "unrelated words nothing shared here at all today folks"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("eid", "etxt")
    val train = Seq(
      // exact token-set overlap with eval 1
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // near-dup of eval 3 (9 of 10 tokens, J = 0.9)
      (101L, "one two three four five six seven eight nine"),
      // near-dup of ANOTHER train doc — must NOT appear (same side)
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (103L, "totally disjoint vocabulary rows keep to themselves always")
    ).toDF("tid", "ttxt")
    val pairs = TextOps.crossTextNearDupPairs(
      evalSet, "eid", "etxt", train, "tid", "ttxt", tau = 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // eval1 x train100 exact (j=1), eval1 x train102 (J=9/10), eval3 x
    // train101 (J=9/10); no (100,102)-style within-train pair
    assert(pairs === Set((1L, 100L), (1L, 102L), (3L, 101L)))
  }

  test("crossNearDupPairsOfSplits is row-identical to the two-collapse cross form") {
    import spark.implicits._
    // one corpus, id-split — the decontamination shape the r22 reuse
    // serves from the corpus-level caches. Adversarial cases baked in:
    //  - ids 1/11: identical set SPANNING both splits (the within-rep
    //    j=1.0 leg the self-join never stores);
    //  - ids 2/12: near-dup across splits where the corpus rep of one
    //    set is the OTHER split's member (rep-orientation flip);
    //  - ids 3/5: near-dup pair entirely inside the LEFT split — must
    //    NOT appear (no within-side pairs);
    //  - ids 13/14: disjoint-vocabulary right rows, stay unpaired;
    //  - ids 4/11: a second eval member of the spanning set (fan-out
    //    multiplicity through the shared membership).
    val corpus = Seq(
      (1L,  "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L,  "one two three four five six seven eight nine ten"),
      (3L,  "red orange yellow green blue indigo violet pink brown black"),
      (4L,  "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L,  "red orange yellow green blue indigo violet pink brown"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (12L, "one two three four five six seven eight nine"),
      (13L, "crimson amber chartreuse teal navy plum mauve taupe sepia"),
      (14L, "totally disjoint vocabulary rows keep to themselves always")
    ).toDF("id", "txt")
    val leftIds = corpus.filter(col("id") < 10L).select(col("id"))
    val rightIds = corpus.filter(col("id") >= 10L).select(col("id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = rows(TextOps.crossTextNearDupPairs(
      corpus.filter(col("id") < 10L), "id", "txt",
      corpus.filter(col("id") >= 10L), "id", "txt", tau = 0.85))
    val reused = rows(TextOps.crossTextNearDupPairsOfSplits(
      corpus, "id", "txt", leftIds, rightIds, tau = 0.85))
    assert(reused === fresh)
    // vacuity guards: the spanning set, the orientation-flipped
    // near-dup, and the no-within-side rule are all actually exercised
    assert(fresh.contains((1L, 11L, 1.0)) && fresh.contains((4L, 11L, 1.0)))
    assert(fresh.exists { case (a, b, j) => a == 2L && b == 12L && j < 1.0 })
    // the 3/5 near-dup lives entirely in the left split: no output row
    // may involve either id (within-side pairs are never emitted)
    assert(!fresh.exists { case (a, b, _) =>
      a == 3L || a == 5L || b == 3L || b == 5L })
    // and the reversed split assignment (right ids smaller) flips the
    // rep orientation the other way — still identical
    val fresh2 = rows(TextOps.crossTextNearDupPairs(
      corpus.filter(col("id") >= 10L), "id", "txt",
      corpus.filter(col("id") < 10L), "id", "txt", tau = 0.85))
    val reused2 = rows(TextOps.crossTextNearDupPairsOfSplits(
      corpus, "id", "txt", rightIds, leftIds, tau = 0.85))
    assert(reused2 === fresh2)
  }

  test("repetitionRatioCols is value-identical to repetitionStats(nullAsRepetitive)") {
    import spark.implicits._
    // edge rows: null text (→ 1.0/1.0), empty string (split → [""]:
    // one token, ratio 1.0), single token (bigram denominator clamps
    // to 1), a repetitive doc, and a normal doc
    val d = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "solo"),
      (4L, "spam spam spam spam ham"),
      (5L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val (rTok, rBigram) = TextOps.repetitionRatioCols(col("text"))
    val inline = d.select(col("doc_id"), rTok.as("t"), rBigram.as("b"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val frame = TextOps.repetitionStats(d, "doc_id", "text", nullAsRepetitive = true)
      .select(col("doc_id"), col("top_tok_ratio"), col("top_bigram_ratio"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(inline === frame)
    assert(inline.contains((1L, 1.0, 1.0))) // null policy actually exercised
  }

  test("setNearDupClusters over shingles: reordered text clusters under token sets, not bigram sets") {
    import spark.implicits._
    // 20/21 share the token SET but reverse the word order, so every
    // bigram shingle differs: token-set clustering must merge them,
    // bigram-shingle clustering must keep them apart
    val d = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "zeta epsilon delta gamma beta alpha"),
      (22L, "one two three four five six")
    ).toDF("my_id", "my_text")
    def reps(setCol: org.apache.spark.sql.Column) = TextOps
      .setNearDupClusters(d, "my_id", setCol, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(TextOps.tokenSet(col("my_text"))) ===
      Map(20L -> 20L, 21L -> 20L, 22L -> 22L))
    assert(reps(TextOps.ngramSet(col("my_text"), 2)) ===
      Map(20L -> 20L, 21L -> 21L, 22L -> 22L))
  }

  test("cosineNearDupClusters: near groups collapse to min id, orthogonal vectors stay singletons") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.01f, 0.99f, 0.0f)), // near-dup of 3
      (5L, Array(0.0f, 0.0f, 1.0f))    // singleton
    ).toDF("vid", "emb")
    val reps = VectorOps.cosineNearDupClusters(vecs, "vid", "emb", tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("CC solvers agree on randomized graph shapes (chains, cliques, random)") {
    import spark.implicits._
    // adversarial shapes the corpus test can't produce: long chains
    // (diameter stress for the loop's pointer jumping), dense
    // cliques, and seeded sparse random graphs with duplicate edges
    val rnd = new scala.util.Random(13)
    val chain = (0L until 400L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (a <- 500L until 520L; b <- (a + 1) until 520L) yield (a, b)
    val sparse = Seq.fill(300)((rnd.nextInt(200).toLong + 1000L,
      rnd.nextInt(200).toLong + 1000L)).filter(p => p._1 != p._2)
    for (edges <- Seq(chain, clique, sparse, chain ++ clique ++ sparse)) {
      val pairs = edges.toDF("a", "b")
      val driver = TextOps.driverComponents(pairs, Long.MaxValue).get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val loop = TextOps.loopComponents(pairs, maxIters = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(driver === loop, s"label mismatch on ${edges.size}-edge graph")
      // every node labeled by a component minimum that is a member node
      assert(driver.values.toSet.subsetOf(driver.keySet))
    }
  }

  test("fingerprint: identical docs share fingerprints; reordered docs differ") {
    val fps = TextOps.fingerprint(docs, "my_id", "my_text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fps(10L) === fps(11L))
    assert(fps.contains(13L))
  }

  test("repetitionStats: per-row fold equals explode/groupBy counts; filter is non-vacuous") {
    val d = Tables.t(spark, sf, "documents")
    val stats = TextOps.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3))).toMap
    // reference formulation: explode to (doc, gram), group, max count
    val toks = d.select(col("doc_id"), split(col("text"), " ").as("tk"))
    def maxCount(grams: org.apache.spark.sql.DataFrame) = grams
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.max("count").as("mx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uni = maxCount(toks.select(col("doc_id"), explode(col("tk")).as("g")))
    // size >= 2 guard: sequence(1, 0) is DESCENDING in Spark, so an
    // unguarded 1-token doc would index out of bounds
    val bi = maxCount(toks.filter(size(col("tk")) >= 2).select(col("doc_id"),
      explode(expr("transform(sequence(1, size(tk) - 1), i -> concat_ws(' ', tk[i - 1], tk[i]))")).as("g")))
    stats.foreach { case (id, (tn, bn)) =>
      assert(tn.toLong === uni(id), s"unigram max mismatch for doc $id")
      assert(bn.toLong === bi.getOrElse(id, 0L), s"bigram max mismatch for doc $id")
    }
    // the stats computation itself is one narrow map — NO shuffle
    // above the cached table scan (Tables.t's one-time corpus
    // rebalance lives inside the InMemoryRelation; the declared key's
    // orderBy adds its own exchange)
    val plan = TextOps.repetitionStats(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val aboveScan = plan.split("InMemoryTableScan|FileScan")(0)
    assert(!aboveScan.contains("Exchange"),
      s"repetitionStats plans a shuffle:\n$plan")
    // property-style: random small-alphabet docs (forced repeats)
    // against a plain-Scala reference count
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val gen = (0 until 100).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val genDf = spark.createDataFrame(gen).toDF("doc_id", "text")
    TextOps.repetitionStats(genDf, "doc_id", "text").collect().foreach { r =>
      val toks = gen(r.getLong(0).toInt)._2.split(" ").toSeq
      val uniRef = toks.groupBy(identity).values.map(_.size).max
      val biRef = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        .groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
      assert(r.getInt(2) === uniRef, s"unigram mismatch for '${gen(r.getLong(0).toInt)._2}'")
      assert(r.getInt(3) === biRef, s"bigram mismatch for '${gen(r.getLong(0).toInt)._2}'")
    }
    // pinned adversarial edges: the greatest(n_toks - 1, 1) bigram
    // denominator and the empty-bigram path get explicit cases, not
    // just whatever the random generator happens to cover —
    // (text, n_toks, top_tok_n, top_bigram_n, tok_ratio, bigram_ratio)
    val edges = Seq(
      (100L, "solo"),            // single token: no bigrams, denom clamps to 1
      (101L, "x x x x x"),       // degenerate repetition: both ratios 1.0
      (102L, "a b a b a"),       // alternating: max bigram 2 of 4, ratio 0.5
      (103L, "a b c d e")        // all distinct: every count 1
    )
    val edgeDf = spark.createDataFrame(edges).toDF("doc_id", "text")
    val er = TextOps.repetitionStats(edgeDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(er(100L) === ((1, 1, 0, 1.0, 0.0)))
    assert(er(101L) === ((5, 5, 4, 1.0, 1.0)))
    assert(er(102L) === ((5, 3, 2, 0.6, 0.5)))
    assert(er(103L) === ((5, 1, 1, 0.2, 0.25)))
    // thresholds must actually split the corpus (no vacuous green)
    val keeps = graft.operators.LlmAnalysis.queries("llm_repetition_filter")(spark, sf)
      .groupBy("keep").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(keeps.getOrElse(true, 0L) > 0 && keeps.getOrElse(false, 0L) > 0,
      s"repetition filter is vacuous: $keeps")
  }

  test("tokenSet/ngramSet analyze on a session that never ran registerAll") {
    // the helpers hand out the kernel EXPRESSION, not an unresolved
    // function name: a fresh session (own FunctionRegistry, no graft
    // registrations) must still analyze and execute them
    val s2 = spark.newSession()
    val df = s2.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, "b a c b")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("txt",
          org.apache.spark.sql.types.StringType))))
    val toks = df.select(TextOps.tokenSet(col("txt")).as("t"))
      .collect().head.getSeq[String](0)
    assert(toks === Seq("a", "b", "c"))
    val grams = df.select(TextOps.ngramSet(col("txt"), 2).as("g"))
      .collect().head.getSeq[String](0)
    assert(grams === Seq("a c", "b a", "c b"))
  }

  test("bounded topk_pairs aggregate ≡ window row_number form, with no Window in the plan") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random corpus WITH ties: vectors repeat
    // every 16 ids, so several candidates score identically against a
    // probe and the (score desc, cid asc) tie-break is load-bearing
    val vecs = (0L until 64L).map { i =>
      val r = i % 16
      (i, Array((r % 4).toFloat + 1f, (r / 4).toFloat, (r % 3).toFloat))
    }.toDF("vid", "emb")
    val probes = vecs.filter(col("vid") < 4)
    val got = VectorOps.cosineTopK(vecs, probes, "vid", "emb", k = 5)
    // reference: the pre-r15 window formulation, computed inline
    val e = vecs.select(col("vid").as("cid"),
      transform(col("emb"), x => x.cast("double")).as("v"))
    val p = vecs.filter(col("vid") < 4).select(col("vid").as("pid"),
      transform(col("emb"), x => x.cast("double")).as("pv"))
    graft.functions.Graft.registerAll(s)
    val scored = p.crossJoin(e).filter(col("cid") =!= col("pid"))
      .select(col("pid"), col("cid"),
        (expr("vec_dot(pv, v)") /
          (sqrt(expr("vec_dot(pv, pv)")) * sqrt(expr("vec_dot(v, v)")))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("score").desc, col("cid"))
    val want = scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("pid"), col("rk"), col("cid"), col("score"))
    val gotRows = got.orderBy("pid", "rk").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), math.round(r.getDouble(3) * 1e12)))
    val wantRows = want.orderBy("pid", "rk").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), math.round(r.getDouble(3) * 1e12)))
    assert(gotRows === wantRows)
    // the scale property itself: no per-probe window sort anywhere
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "topk must not single-partition-sort per probe")
  }

  test("exactNgramContamination: bloom prefilter is lossless vs the plain join; plan carries might_contain") {
    val s = spark
    import s.implicits._
    // bigrams so the 4-6 word docs overlap; 13 shares nothing
    val evalDf = docs.filter(col("my_id") % 2 === 0)
    val train = docs.filter(col("my_id") % 2 =!= 0)
    val got = TextOps.exactNgramContamination(
      evalDf, "my_id", "my_text", train, "my_text", n = 2)
    // reference: same semantics with NO bloom stage
    val g = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("my_id"), explode(TextOps.ngramSet(col("my_text"), 2)).as("gram"))
    val tr = g(train).select("gram").distinct()
    val tot = g(evalDf).groupBy(col("my_id").as("eval_id"))
      .agg(count(lit(1)).as("n_grams"))
    val want = g(evalDf).withColumnRenamed("my_id", "eval_id")
      .join(tr, "gram").groupBy("eval_id")
      .agg(count(lit(1)).as("n_hit_grams"))
      .join(tot, "eval_id")
      .select(col("eval_id"), col("n_grams"), col("n_hit_grams"),
        (col("n_hit_grams").cast("double") / col("n_grams").cast("double")).as("frac"))
    val key = (df: org.apache.spark.sql.DataFrame) => df.orderBy("eval_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), math.round(r.getDouble(3) * 1e12)))
    assert(key(got) === key(want))
    assert(got.count() > 0, "fixture must exercise real hits")
    // the scale property: the bloom prunes BEFORE the join (a
    // might_contain predicate over the eval gram stream)
    assert(got.queryExecution.executedPlan.toString.contains("might_contain"),
      "bloom prefilter missing from the physical plan")
    // empty train corpus → no contamination, not a crash
    assert(TextOps.exactNgramContamination(
      evalDf, "my_id", "my_text", train.filter(lit(false)), "my_text", n = 2)
      .count() === 0)
  }

  test("packedSpans ≡ single-partition window prefix sum, with no global Window in the plan") {
    val s = spark
    import s.implicits._
    // sparse, shuffled ids + varied lengths + a null text: the bucket
    // function must follow id ranges, not row order or density
    val rows = new scala.util.Random(42).shuffle((0 until 200).toList).map { i =>
      val id = i.toLong * 7 + (i % 3) // sparse, non-contiguous
      val text = if (i % 17 == 0) null
      else Seq.fill(1 + (i * 31) % 40)("w" + (i % 5)).mkString(" ")
      (id, text)
    }
    val df = rows.toDF("the_id", "the_text").repartition(7)
    val got = TextOps.packedSpans(df, "the_id", "the_text", chunkTokens = 64, numParts = 8)
    // reference: the naive global-window form
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = df.select(col("the_id").cast("long").as("doc_id"),
        when(col("the_text").isNull, 0L)
          .otherwise(size(split(col("the_text"), " ")).cast("long")).as("n_toks"))
      .withColumn("start_tok", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_toks"), col("start_tok"),
        expr("start_tok DIV 64").as("first_chunk"),
        expr("(start_tok + GREATEST(n_toks - 1, CAST(0 AS BIGINT))) DIV 64").as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
    val key = (d: org.apache.spark.sql.DataFrame) => d.orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(key(got) === key(want))
    // invariants: spans tile the token stream exactly, in id order
    val tiled = key(got).sortBy(_._1).foldLeft(0L) { case (expectStart, (_, n, start, _, _, _)) =>
      assert(start === expectStart); start + n
    }
    assert(tiled === key(got).map(_._2).sum)
    // the scale property: every Window in the plan is bucket-partitioned
    // (a global-order window would shuffle everything to one task)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "packedSpans must not funnel the corpus through one partition")
    // empty input → empty output, not a crash
    assert(TextOps.packedSpans(df.filter(lit(false)), "the_id", "the_text", 64).count() === 0)
  }

  test("packedSpans at 300k rows: exact tiling and window-form equality beyond toy size") {
    val s = spark
    import s.implicits._
    // 300k docs with deterministic, varied token counts (1..40):
    // text = n repetitions of "w" — split() sees exactly n tokens
    val n = 300000L
    val big = s.range(n).select(col("id").as("the_id"),
      expr("repeat('w ', CAST(id % 40 + 1 AS INT))").as("the_text"))
    val got = TextOps.packedSpans(big, "the_id", "the_text", chunkTokens = 512, numParts = 32)
    // exact tiling: offsets are the prefix sums of n_toks in id order —
    // verified globally via the closed form, no driver-side iteration
    // (sum over id of (id % 40 + 1) for ids < k). Spot-check the
    // boundary rows and the global total.
    val totToks = got.agg(sum("n_toks")).head.getLong(0)
    val lastRow = got.orderBy(col("doc_id").desc).limit(1)
      .select(col("start_tok") + col("n_toks")).head.getLong(0)
    assert(lastRow === totToks, "last span must end exactly at the token total")
    // monotone, gap-free: start(k+1) = start(k) + n(k) — checked via a
    // bucket-local window join (cheap) over a 1k-row sampled range
    val sample = got.filter(col("doc_id") < 1000).orderBy("doc_id").collect()
    sample.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) === a.getLong(2) + a.getLong(1),
          s"gap at doc ${b.getLong(0)}")
      case _ =>
    }
    // pin the tokenizer's trailing-delimiter behavior (Spark split
    // keeps trailing empty slices): "w " tokenizes to 2, so doc 0
    // (one repetition) must count exactly 2 — a tokenizer change
    // would silently shift every offset, and this catches it
    assert(sample(0).getLong(1) === 2L,
      s"split('w ') counted ${sample(0).getLong(1)} tokens; trailing-slice semantics changed")
    // no single-partition funnel at this size either
    assert(!got.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("winnow: docs sharing a ≥ w+3 token run share a fingerprint; disjoint docs don't") {
    val s = spark
    import s.implicits._
    val shared = "one two three four five six seven eight" // 8 tokens = w+3 at w=5
    val d = Seq(
      (1L, s"prefix alpha beta $shared"),
      (2L, s"$shared gamma delta suffix tail"),
      (3L, "zz yy xx ww vv uu tt ss rr qq")    // disjoint vocabulary
    ).toDF("id", "txt")
    val fps = TextOps.winnow(d, "id", "txt", w = 5).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toInt).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "winnowing guarantee: a shared 8-token run must yield a shared fingerprint")
    assert((fps(1L) intersect fps(3L)).isEmpty && (fps(2L) intersect fps(3L)).isEmpty,
      "disjoint-vocabulary docs should not collide on this fixture")
    // n_fps matches the set size and the csv is sorted ascending
    TextOps.winnow(d, "id", "txt", w = 5).collect().foreach { r =>
      val v = r.getString(2).split(",").map(_.toInt).toSeq
      assert(v.size === r.getInt(1) && v === v.sorted && v.distinct === v)
    }
    // too-short docs are dropped, not crashed
    assert(TextOps.winnow(Seq((9L, "a b c")).toDF("id", "txt"), "id", "txt", 5).count() === 0)
  }

  test("quantizeInt8: bounded codes, reconstruction within half-step, extremes hit ±127") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(-2.0f, 2.0f, 1.0f, -1.0f)),
      (3L, Array(0.001f, 0.0005f, -0.001f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // all-zero: dropped (no scale)
      (5L, null.asInstanceOf[Array[Float]])  // null vector: dropped
    ).toDF("vid", "emb")
    val q = VectorOps.quantizeInt8(vecs, "vid", "emb").orderBy("vec_id").collect()
    assert(q.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    q.foreach { r =>
      val scale = r.getDouble(1)
      val codes = r.getString(2).split(",").map(_.toInt)
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(codes.max === r.getInt(4) && codes.min === r.getInt(3))
      // the max element must quantize to ±127 exactly (symmetric scheme)
      assert(codes.map(math.abs).max === 127)
      // reconstruction error is bounded by half a quantization step
      assert(r.getDouble(6) <= scale / 2 + 1e-12,
        s"max_abs_err ${r.getDouble(6)} exceeds half-step ${scale / 2}")
    }
    // shuffle-free scale check: no Exchange in the plan
    val plan = VectorOps.quantizeInt8(vecs, "vid", "emb")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "quantization must stay per-row")
  }
}
