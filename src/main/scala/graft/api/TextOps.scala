package graft.api

import graft.functions.{Graft, NgramSet}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{BlockBridge, ColumnBridge}
import org.apache.spark.util.sketch.{BloomFilter => SketchBloom}

/** Public text-pipeline API over arbitrary DataFrames — the
  * library surface a training-data pipeline calls; the SparkEntry
  * llm_* keys are instantiations of these over the test tables.
  *
  * All operators are linear explode/agg/band-join pipelines (no
  * O(n²) global state) and deterministic: fixed hash seeds, exact
  * confirm stages, documented tie-breaks.
  *
  * Candidate generation is always a banded-MinHash equi-JOIN: the
  * exact-set collapse bounds per-key work, band keys shuffle like any
  * groupBy key, and no stage materializes a corpus-sized relation on
  * the driver (no explicit broadcast hints — AQE may still broadcast
  * genuinely small sides at test scale, which is fine). SimHash
  * hamming-pigeonhole banding (split the bits into maxHamming+1
  * segments, equi-join on exact segment match) is the textbook
  * alternative but was MEASURED anti-productive on this testbed's
  * 31-word vocabulary: segment values collide so heavily that
  * candidate pair-slots reach 148% (9 segs @ sf0.1) to 678% (17 segs
  * @ sf0.01) of the all-pairs count, and 64-bit simhash hamming
  * between true J≥0.95 pairs reaches 11 — so the banded-MinHash
  * generator backs every dedup flavor (measured pruning at sf0.1:
  * token sets ~17% of rep all-pairs after the length filter — the
  * shared 31-word vocabulary keeps random token-set Jaccard ≈ 0.7 —
  * and bigram-shingle sets ~0.02%, where random J ≈ 0.027).
  */
object TextOps {

  /** Distinct sorted token set of a whitespace-tokenized text column.
    * Backed by the codegen'd `ngram_set` kernel (1-grams = tokens).
    * The Column carries the kernel EXPRESSION (via [[ColumnBridge]]),
    * not an unresolved function name, so it analyzes on any session —
    * no [[Graft.registerAll]] needed. Null text → null set (the
    * kernel's documented semantics; every collapse-based pipeline
    * drops null and empty sets alike). */
  def tokenSet(textCol: Column): Column = ngramSet(textCol, 1)

  /** Word n-gram array (order-sensitive shingles). */
  def wordNgrams(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(tk, i + o)): _*))
    ).otherwise(array().cast("array<string>"))

  /** Distinct sorted n-gram shingle set of a text column. Backed by
    * the codegen'd `ngram_set` kernel — one byte scan emitting
    * zero-copy slices (an n-gram re-joined with the single-space
    * delimiter IS a byte range of the original text), where the HOF
    * form paid a closure call + concat allocation per shingle plus
    * `array_sort`'s interpreted comparator, over the full corpus
    * twice per collapse. Bit-identity vs the HOF form is asserted in
    * ExtensibilitySpec; session contract and null semantics as
    * [[tokenSet]]. */
  def ngramSet(textCol: Column, n: Int): Column =
    ColumnBridge.column(NgramSet(ColumnBridge.expression(textCol), n))

  /** Exact text dedup groups: sha256 of the normalized text, the
    * minimum id as group keeper, and the copy count. */
  def exactDedupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(lower(trim(col(textCol))).cast("binary"), 256).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Identical-set collapse, as TWO relations so no aggregation buffer
    * ever holds a duplicate group's ids (the former
    * `collect_list(doc_id)` design funneled every member of a distinct
    * set into ONE reducer buffer — a single hot boilerplate document
    * at corpus scale is an executor OOM):
    *
    *  - `groups` (rep, toks): one row per distinct set, rep = min id.
    *    A plain min aggregate — partial-aggregable, so a mega-dup set
    *    collapses map-side and the reducer sees one row per mapper.
    *  - `membership` (doc_id, rep): each doc keyed to its set's
    *    representative via an equi-join on the set column — the probe
    *    side streams (constant memory per task) and AQE can
    *    skew-split a hot set, where a window/partition formulation
    *    would buffer the whole group in one task.
    *
    * Exact dups never reach the pairwise stages — per-set work is
    * bounded. Empty sets are dropped: J(∅,∅) is 0/0, undefined, and
    * the brute-force formulation never emits such pairs either.
    *
    * What is pinned: a registered instance holds `groups`,
    * `membership` (joined against the pinned `groups`) and every
    * [[bandedSignatures]] / [[cachedConfirmedPairs]] relation as a
    * LOCAL CHECKPOINT (`localCheckpoint(eager = false)`): the rows
    * are kept, the lineage that built them is cut the first time a
    * job materializes them, so the build plan's broadcasts and
    * shuffles become garbage and downstream plans see a one-line
    * `LogicalRDD` leaf. (A `.cache()`d plan keeps its whole executed
    * plan — every broadcast hash relation in it, a whole Tungsten
    * page each — and prints the nested `InMemoryRelation` into every
    * plan that reads it.) `source` is the unpinned groups plan: the
    * registry verifies a hit against it, since a pinned leaf equals
    * nothing but itself.
    *
    * Who releases the pins: nobody explicitly. Eviction ([[evict]])
    * only drops the registry's references; Spark's ContextCleaner
    * unpersists each pin once no DataFrame references it any more, so
    * a frame a caller still holds keeps its pins alive and evaluates
    * correctly after eviction.
    *
    * Lost blocks: a local checkpoint has no lineage once
    * materialized, so a lost executor loses its blocks for good. The
    * registry checks a hit's blocks before returning it
    * ([[pinsStored]]) and rebuilds when any is gone; a frame already
    * built over lost blocks fails with Spark's
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` error. The engine's other
    * `localCheckpoint` pins ([[exactNgramContamination]],
    * [[loopComponents]], the LlmText and Functions pins) have the same
    * exposure. */
  private[graft] class Collapsed(val source: LogicalPlan, val groups: DataFrame,
      val membership: DataFrame) {

    /** Set once the registry drops this instance. A caller may still
      * hold a reference, but a pin made from now on would live only as
      * long as the caller's frames — and a fresh entry for the same
      * corpus pins its own — so [[bandedSignatures]] and
      * [[cachedConfirmedPairs]] return unpinned plans from this point. */
    @volatile private[graft] var evicted = false

    /** Banded minhash signatures of `groups`, pinned per (numHashes,
      * bands): (doc_id = rep, sz, bkey) with one row per (rep, band).
      * The signature computation is the per-row interpreted-HOF pass —
      * the priciest narrow stage of the dedup pipeline — and is
      * tau-INDEPENDENT (tau only filters the candidate join), so one
      * materialization serves the band self-join's both sides AND
      * every same-parameter dedup flavor over this collapse
      * (minhash/simhash/clusters all use 32x8). */
    private val bandsCache =
      scala.collection.mutable.Map.empty[(Int, Int), DataFrame]

    def bandedSignatures(numHashes: Int, bands: Int): DataFrame = synchronized {
      def build(): DataFrame = {
        Graft.registerAll(groups.sparkSession) // minhash_sig; idempotent
        val rowsPerBand = numHashes / bands
        require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
        // ONE array column for the whole signature, computed by the
        // codegen'd minhash_sig kernel (bit-identical to the former
        // nested-HOF formulation — asserted in ExtensibilitySpec —
        // but a primitive loop instead of numHashes×tokens interpreted
        // closure calls per row; this was the priciest narrow stage of
        // every dedup flavor). One expression, not numHashes separate
        // projections: Catalyst analysis and Janino compilation stay
        // O(1) in numHashes (the 30-column form cost ~5 s of per-plan
        // optimizer+codegen time before the first row moved)
        val sigs = groups
          .select(col("rep").as("doc_id"), size(col("toks")).as("sz"),
            expr(s"minhash_sig(toks, $numHashes)").as("sig"))
        sigs.select(col("doc_id"), col("sz"),
          explode(transform(sequence(lit(0), lit(bands - 1)),
            b => hash(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))).as("bkey"))
      }
      if (evicted) build()
      else bandsCache.getOrElseUpdate((numHashes, bands), pin(build()))
    }

    /** Confirmed rep pairs pinned per (tau, numHashes, bands) — the
      * band self-join + exact-confirm output, shared verbatim by every
      * flavor that asks for the same parameters (the pair and cluster
      * output forms both use tau with the default 32×8 banding, so the
      * whole candidate+confirm stage runs ONCE per collapse, not once
      * per output form). Same lifecycle rules as [[bandedSignatures]]:
      * no pinning after eviction. */
    private val repPairsCache =
      scala.collection.mutable.Map.empty[(Double, Int, Int), DataFrame]

    def cachedConfirmedPairs(tau: Double, numHashes: Int, bands: Int)
        (build: => DataFrame): DataFrame = synchronized {
      if (evicted) build
      else repPairsCache.getOrElseUpdate((tau, numHashes, bands), pin(build))
    }

    /** The pinned relations this instance owns. */
    private[graft] def pins: Seq[DataFrame] =
      synchronized(Seq(groups, membership) ++ bandsCache.values ++ repPairsCache.values)

    /** Whether every pin still has all its blocks: one driver-side
      * block-location lookup (see [[BlockBridge.allStored]]). */
    def pinsStored: Boolean =
      BlockBridge.allStored(pins.flatMap(_.queryExecution.logical match {
        case r: LogicalRDD => Some(r.rdd)
        case _ => None
      }))

    /** Drop the registry's references; unpersist nothing (see the
      * class doc: an explicit unpersist would fail a frame a caller
      * still holds with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`). */
    def evict(): Unit = synchronized {
      evicted = true
      bandsCache.clear()
      repPairsCache.clear()
    }
  }

  /** A registry pin: the rows, lineage cut on first materialization. */
  private def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Bounded lifecycle for the per-invocation collapse pins: live
    * Collapsed instances are registered per canonical groups-plan, so
    * a same-plan call reuses the registered entry (the cross-key reuse
    * the bench relies on — minhash/simhash/clusters/decontam share one
    * token-set collapse), and the registry evicts least-recently-used
    * entries beyond 4 (token-set + shingle-set of the current corpus,
    * plus the two sides of a cross-corpus decontamination call — sized
    * so one [[crossNearDupPairs]] cannot evict the full-corpus
    * collapse the dedup flavors share; a new corpus/SF evicts the old
    * one). The registry owns at most 4 instances' pins; an evicted
    * instance's pins are released by the ContextCleaner once its last
    * frame is garbage, so a long session holds a bounded number of
    * them (pinned by RegistrySoakSpec). */
  private val liveCollapsed =
    new java.util.LinkedHashMap[String, Collapsed](8, 0.75f, true)
  private val maxLiveCollapsed = 4

  /** Eviction never fails the unrelated live `collapse()` call that
    * triggered it, whatever state the evicted entry is in. */
  private def safeEvict(c: Collapsed): Unit =
    try c.evict() catch { case scala.util.control.NonFatal(_) => () }

  /** Register under `key`, evicting the entry it replaces and LRU
    * entries beyond capacity. */
  private[graft] def registerCollapsed(key: String, c: Collapsed): Unit =
    liveCollapsed.synchronized {
      val replaced = liveCollapsed.put(key, c)
      if (replaced != null && (replaced ne c)) safeEvict(replaced)
      val it = liveCollapsed.entrySet().iterator()
      while (liveCollapsed.size() > maxLiveCollapsed && it.hasNext) {
        safeEvict(it.next().getValue); it.remove()
      }
    }

  /** The two relations of the exact-set collapse, pre-registry. */
  private[graft] def collapseParts(df: DataFrame, idCol: String,
      setCol: Column): (DataFrame, DataFrame) = {
    Graft.registerAll(df.sparkSession) // ngram_set in setCol; idempotent
    val base = df.select(col(idCol).as("doc_id"), setCol.as("toks"))
      .filter(size(col("toks")) > 0)
    val groups = base.groupBy(col("toks")).agg(min(col("doc_id")).as("rep"))
      .select(col("rep"), col("toks"))
    (base, groups)
  }

  private[graft] def collapse(df: DataFrame, idCol: String, setCol: Column): Collapsed = {
    val (base, groups) = collapseParts(df, idCol, setCol)
    // the 32-bit semantic hash is only a LOOKUP key; correctness comes
    // from the sameResult verification on hit inside collapseKeyed
    val key = df.sparkSession.hashCode() + "|" +
      groups.queryExecution.analyzed.canonicalized.semanticHash()
    collapseKeyed(key, base, groups)
  }

  /** Registry lookup with the hit VERIFIED by full canonicalized-plan
    * equality (`sameResult`) against the entry's `source`, mirroring
    * Spark's own CacheManager: the 32-bit key alone could collide
    * across two different corpus plans and silently return the wrong
    * collapse — a wrong dedup answer. A hit whose pins lost blocks
    * ([[Collapsed.pinsStored]]) would fail every frame built on it,
    * so it is rebuilt too. A collided, stale or broken entry is
    * replaced by a fresh build, which evicts it. The build runs outside
    * the registry lock: pinning runs a plan's shuffle stages, which
    * must not serialize unrelated collapses. */
  private[graft] def collapseKeyed(key: String, base: DataFrame,
      groups: DataFrame): Collapsed = {
    val source = groups.queryExecution.analyzed
    val hit = liveCollapsed.synchronized(liveCollapsed.get(key))
    if (hit != null && hit.source.sameResult(source) && hit.pinsStored) hit
    else {
      val pinnedGroups = pin(groups)
      val membership = base.join(pinnedGroups, "toks").select(col("doc_id"), col("rep"))
      val c = new Collapsed(source, pinnedGroups, pin(membership))
      registerCollapsed(key, c)
      c
    }
  }

  /** Banded-MinHash candidate rep pairs over `groups` (from
    * [[collapse]]): fixed-seed murmur minhash signatures → int band
    * keys → band equi-join with the LENGTH filter folded into the
    * join condition (J ≥ τ ⟹ τ·|A| ≤ |B| ≤ |A|/τ — a theorem, so
    * dropping those pairs is lossless at any τ; on this testbed it
    * cuts candidates ~3×, BEFORE the distinct shuffle and the
    * per-pair confirm). Signatures are computed per ROW by the
    * codegen'd minhash_sig kernel — a narrow map that moves no data,
    * where the explode → numHashes-column groupBy formulation
    * shuffles the whole exploded corpus once per dedup call. Hash
    * collisions only ADD candidates; the exact confirm downstream
    * filters them. Returns (a, b), a < b. */
  /** Band equi-join between two banded-signature relations with the
    * lossless τ-length filter folded in — the ONE encoding of the
    * candidate stage, shared by the self-join ([[bandCandidates]],
    * which adds the a &lt; b ordering) and the cross-corpus form
    * ([[crossNearDupPairs]], which passes none). */
  private def bandJoinCandidates(bx: DataFrame, by: DataFrame,
      tau: Double, extraPred: Column): DataFrame =
    bx.as("x").join(by.as("y"),
        col("x.bkey") === col("y.bkey") && extraPred &&
          col("x.sz") >= lit(tau) * col("y.sz") &&
          col("y.sz") >= lit(tau) * col("x.sz"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  /** Exact confirm of candidate rep pairs against the two sides'
    * groups relations: codegen'd early-abandon Jaccard ≥ tau. */
  private def confirmPairs(cands: DataFrame, groupsA: DataFrame,
      groupsB: DataFrame, tau: Double): DataFrame =
    cands
      .join(groupsA.select(col("rep").as("a"), col("toks").as("ta")), "a")
      .join(groupsB.select(col("rep").as("b"), col("toks").as("tb")), "b")
      // threshold-aware kernel: exact j for every surviving pair,
      // early abandon (-1) the moment a pair provably misses tau
      .withColumn("j", expr(s"sorted_jaccard_min(ta, tb, ${tau}D)"))
      .filter(col("j") >= tau)
      .select(col("a"), col("b"), col("j"))

  private def bandCandidates(c: Collapsed, numHashes: Int, bands: Int,
      tau: Double): DataFrame = {
    // the banded-signature relation is pinned on the Collapsed (see
    // bandedSignatures): both sides of the self-join read one
    // materialization instead of re-running the interpreted signature
    // pass per side, and same-parameter dedup flavors share it
    val bandsDf = c.bandedSignatures(numHashes, bands)
    bandJoinCandidates(bandsDf, bandsDf, tau, col("x.doc_id") < col("y.doc_id"))
  }

  /** Expand confirmed rep pairs (a, b, j) back to member pairs, plus
    * the within-group pairs (identical sets, j = 1). Every stage is a
    * plain shuffle equi-join on the membership RELATION — no member
    * array is ever materialized, so the widest row is one (doc_id,
    * rep) pair regardless of duplicate-group size, and only the
    * OUTPUT (inherently quadratic in group size, as the pair-list
    * contract demands) grows. */
  private def fanOut(c: Collapsed, repPairs: DataFrame): DataFrame = {
    val mem = c.membership
    val cross = repPairs
      .join(mem.select(col("rep").as("a"), col("doc_id").as("da")), "a")
      .join(mem.select(col("rep").as("b"), col("doc_id").as("db")), "b")
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("j"))
    val within = mem.as("x").join(mem.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), lit(1.0).as("j"))
    cross.unionAll(within)
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard confirm.
    *
    * Pipeline: exact-set collapse → banded candidates → codegen'd
    * sorted-merge Jaccard ≥ tau on candidate reps → fan-out back to
    * member ids. Output: (a, b, j) with a < b.
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String, tau: Double,
      numHashes: Int = 32, bands: Int = 8): DataFrame =
    setNearDupPairs(df, idCol, tokenSet(col(textCol)), tau, numHashes, bands)

  /** Confirmed rep pairs (a, b, j): banded candidates → exact
    * sorted-merge Jaccard ≥ tau. Shared by the pair and cluster
    * output forms. */
  private def confirmedRepPairs(c: Collapsed, tau: Double,
      numHashes: Int, bands: Int): DataFrame =
    c.cachedConfirmedPairs(tau, numHashes, bands) {
      confirmPairs(bandCandidates(c, numHashes, bands, tau),
        c.groups, c.groups, tau)
    }

  /** [[minhashNearDupPairs]] over an arbitrary set-valued column —
    * shingle sets, token sets, anything array&lt;string&gt;. */
  def setNearDupPairs(
      df: DataFrame, idCol: String, setCol: Column, tau: Double,
      numHashes: Int, bands: Int): DataFrame = {
    Graft.registerAll(df.sparkSession)
    val c = collapse(df, idCol, setCol)
    fanOut(c, confirmedRepPairs(c, tau, numHashes, bands))
  }

  /** Cross-corpus near-duplicate pairs — the DECONTAMINATION shape: a
    * training pipeline checks a candidate train corpus against a held
    * eval/benchmark set. Same machinery as the self-join dedup, but
    * the band equi-join runs BETWEEN the two corpora: each side is
    * exact-set collapsed and banded independently (both relations
    * pinned on the registry, so repeated probes against the same
    * train corpus reuse its signatures), candidates share a band key
    * and pass the lossless τ-length filter, the codegen'd early-
    * abandon kernel confirms, and both memberships fan out. Identical
    * cross-corpus sets share every band key, so exact overlaps are
    * always candidates. Output: (left_id, right_id, j) — no
    * within-side pairs, no ordering constraint across the two id
    * spaces. Scale shape is the self-join's: no corpus broadcast, no
    * all-pairs stage; the probe side is typically tiny (an eval set),
    * so AQE broadcasts its banded signatures from measured stats. */
  def crossNearDupPairs(
      left: DataFrame, leftId: String, leftSet: Column,
      right: DataFrame, rightId: String, rightSet: Column,
      tau: Double, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    Graft.registerAll(left.sparkSession)
    val cl = collapse(left, leftId, leftSet)
    val cr = collapse(right, rightId, rightSet)
    val cands = bandJoinCandidates(
      cl.bandedSignatures(numHashes, bands),
      cr.bandedSignatures(numHashes, bands), tau, lit(true))
    val reps = confirmPairs(cands, cl.groups, cr.groups, tau)
    reps
      .join(cl.membership.select(col("rep").as("a"), col("doc_id").as("lid")), "a")
      .join(cr.membership.select(col("rep").as("b"), col("doc_id").as("rid")), "b")
      .select(col("lid").as("left_id"), col("rid").as("right_id"), col("j"))
  }

  /** [[crossNearDupPairs]] over whitespace token sets of two text
    * columns — the one-call decontamination form. */
  def crossTextNearDupPairs(
      left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      tau: Double, numHashes: Int = 32, bands: Int = 8): DataFrame =
    crossNearDupPairs(left, leftId, tokenSet(col(leftText)),
      right, rightId, tokenSet(col(rightText)), tau, numHashes, bands)

  /** [[crossNearDupPairs]] where BOTH sides are id-selected SPLITS of
    * one corpus — the standard decontamination call (eval split probed
    * against the train split of the same documents table), REUSING the
    * corpus-level collapse + confirmed-pair caches instead of building
    * two per-split collapses and re-running the band join + confirm
    * per invocation (r22 opt; the cross-corpus twin of r21's
    * [[setNearDupClustersOfSubset]], guide §1.2: reuse what a real
    * pipeline already materialized for its dedup stages).
    *
    * Equivalence to `crossNearDupPairs(corpus ∩ left, corpus ∩ right)`
    * — asserted row-identical in ApiSpec (including a rep-reordering
    * split and an identical-set-across-splits case) and re-proved by
    * the oracle:
    *  - each split's distinct sets are the corpus sets with ≥1 member
    *    in the split (membership ∩ split ids); band keys and the
    *    τ-length filter are pure functions of the SETS, so a cross
    *    candidate (Sₗ, Sᵣ) with Sₗ ≠ Sᵣ shares a band iff the corpus
    *    SELF-join admitted the unordered pair {Sₗ, Sᵣ} — and the
    *    exact-Jaccard confirm is set-deterministic, so the corpus-
    *    confirmed pairs restricted to (left-side, right-side) sets,
    *    taken in BOTH orientations, are precisely the fresh cross
    *    run's Sₗ ≠ Sᵣ output (each unordered pair is stored once,
    *    so no duplicates);
    *  - Sₗ = Sᵣ (one set with members in both splits) is always a
    *    fresh-run candidate (identical sets share every band key) and
    *    confirms at exactly j = 1.0 (`sorted_jaccard_min(X, X)`), which
    *    the self-join never emits (it pairs distinct reps only) — so
    *    those pairs fan out directly from the shared membership with
    *    j = 1.0, the same literal [[fanOut]] uses for within-group
    *    pairs.
    * Output: (left_id, right_id, j), the [[crossNearDupPairs]]
    * contract. `left`/`right` carry the ids (column `idCol`), ⊆ the
    * corpus'; they need not be disjoint. */
  def crossNearDupPairsOfSplits(
      corpus: DataFrame, idCol: String, setCol: Column,
      left: DataFrame, right: DataFrame,
      tau: Double, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    Graft.registerAll(corpus.sparkSession)
    val c = collapse(corpus, idCol, setCol)
    val lMem = c.membership.join(left.select(col(idCol).as("doc_id")), "doc_id")
    val rMem = c.membership.join(right.select(col(idCol).as("doc_id")), "doc_id")
    val confirmed = confirmedRepPairs(c, tau, numHashes, bands)
    // both orientations: the self-join stored each unordered pair once
    // (a < b), but the left set may sit on either side of it
    val sym = confirmed
      .unionAll(confirmed.select(col("b").as("a"), col("a").as("b"), col("j")))
    val cross = sym
      .join(lMem.select(col("rep").as("a"), col("doc_id").as("lid")), "a")
      .join(rMem.select(col("rep").as("b"), col("doc_id").as("rid")), "b")
      .select(col("lid").as("left_id"), col("rid").as("right_id"), col("j"))
    val within = lMem.as("x").join(rMem.as("y"), col("x.rep") === col("y.rep"))
      .select(col("x.doc_id").as("left_id"), col("y.doc_id").as("right_id"),
        lit(1.0).as("j"))
    cross.unionAll(within)
  }

  /** [[crossNearDupPairsOfSplits]] over whitespace token sets. */
  def crossTextNearDupPairsOfSplits(
      corpus: DataFrame, idCol: String, textCol: String,
      left: DataFrame, right: DataFrame,
      tau: Double, numHashes: Int = 32, bands: Int = 8): DataFrame =
    crossNearDupPairsOfSplits(corpus, idCol, tokenSet(col(textCol)),
      left, right, tau, numHashes, bands)

  /** EXACT n-gram cross-corpus contamination report — the other
    * standard decontamination flavor next to the near-dup form
    * ([[crossNearDupPairs]]): an eval doc is contaminated to the
    * degree its distinct word n-gram shingles appear VERBATIM
    * anywhere in the train corpus (the overlap check run on held-out
    * benchmarks before a training corpus ships). Output one row per
    * contaminated eval doc: (eval_id, n_grams, n_hit_grams, frac).
    *
    * Scale shape — the explicit form of Spark's own runtime bloom
    * filter (`InjectRuntimeFilter`): the train side's distinct gram
    * hashes are folded into ONE fixed-size bloom filter (a
    * distributed `BloomFilterAggregate` over `xxhash64(gram)`; its
    * size is set by (expectedTrainGrams, fpp), NOT by the data — the
    * single-row collect is bounded driver work of the same class as
    * the IVF training sample), and the bloom prunes the exploded
    * eval-gram stream MAP-SIDE before anything shuffles. Only
    * surviving grams (true hits + the fpp false-positive mass) enter
    * the exact equi-join confirm, so false positives cost work, never
    * wrong rows, and bloom false negatives do not exist — the output
    * is exactly the plain join's. At 100 TB the probe side never
    * ships non-matching grams into the shuffle; the train side's
    * distinct-gram relation shuffles once (and is scanned twice —
    * bloom build + confirm; persist it when the gram set is large
    * relative to recompute cost). */
  def exactNgramContamination(
      evalDf: DataFrame, evalId: String, evalText: String,
      train: DataFrame, trainText: String,
      n: Int = 5,
      expectedTrainGrams: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val gram = col("gram")
    // materialized ONCE (localCheckpoint): the distinct-gram relation
    // is consumed twice — the bloom build and the confirm join — and
    // without pinning, each consumer re-runs the full shingle explode
    // + distinct shuffle over the train corpus (measured 2.37 s →
    // 1.5 s warm at sf0.1). This is exactly the "persist it when the
    // gram set is large relative to recompute cost" note above, made
    // unconditional: the recompute is never cheaper than one
    // materialized scan of the deduped gram set.
    val trainGrams = train
      .select(explode(ngramSet(col(trainText), n)).as("gram")).distinct()
      .localCheckpoint()
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(gram)),
      Literal(expectedTrainGrams),
      Literal(SketchBloom.optimalNumOfBits(expectedTrainGrams, fpp)),
      0, 0).toAggregateExpression())
    val bytes = trainGrams.agg(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
    // empty train corpus → BloomFilterAggregate yields null → nothing
    // can be contaminated (and MightContain over a null bloom is null).
    // The bloom rides a BROADCAST, not a plan literal (r22, guide
    // §3.2): a literal is re-serialized into every stage's task binary
    // (2.3 MB task binaries at sf0.1; at 100 TB the bloom is sized to
    // the train-gram count — a literal that size per task binary is a
    // scheduler hazard), while the broadcast ships once per executor
    // and the plan carries only the handle. Decision-identical bits —
    // see BloomMightContainBc; the exact confirm join keeps the output
    // independent of filter decisions regardless.
    val mightHit =
      if (bytes == null) lit(false)
      else ColumnBridge.column(graft.functions.BloomMightContainBc(
        ColumnBridge.expression(xxhash64(gram)),
        evalDf.sparkSession.sparkContext.broadcast(bytes)))
    val evalGrams = evalDf
      .select(col(evalId).as("eval_id"), ngramSet(col(evalText), n).as("gs"))
      .select(col("eval_id"), size(col("gs")).cast("long").as("n_grams"),
        explode(col("gs")).as("gram"))
    evalGrams.filter(mightHit).join(trainGrams, "gram")
      .groupBy(col("eval_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_hit_grams"))
      .select(col("eval_id"), col("n_grams"), col("n_hit_grams"),
        (col("n_hit_grams").cast("double") / col("n_grams").cast("double"))
          .as("frac"))
  }

  /** SimHash near-duplicate pairs: 32-bit simhash from per-token
    * murmur bits, hamming ≤ maxHamming prefilter, exact-Jaccard ≥ tau
    * confirm. Candidates come from the banded-MinHash generator (see
    * the object scaladoc for why hamming-pigeonhole banding loses on
    * this corpus); the simhash/hamming stage then runs only on
    * candidate reps. maxHamming must be validated against the corpus
    * for losslessness (measured max true-pair hamming on the testbed:
    * 7 at sf0.1, 5 at sf0.001). */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double, maxHamming: Int,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    Graft.registerAll(df.sparkSession)
    val c = collapse(df, idCol, tokenSet(col(textCol)))
    val groups = c.groups
    // REUSE the shared confirmed-pair cache (r22 opt): this flavor's
    // rep pairs are exactly the (tau, banding)-confirmed pairs the
    // minhash/cluster flavors already cache, RESTRICTED by the hamming
    // prefilter — both the hamming test and the exact-Jaccard confirm
    // are pure per-pair functions of the two token sets, so filtering
    // confirmed pairs by hamming ≡ prefiltering candidates by hamming
    // and then confirming (the confirm keeps a superset either way,
    // and j is computed by the same kernel on the same sets). The
    // expensive candidate+confirm stage therefore runs ONCE per
    // collapse across all three flavors instead of once more here
    // (measured r22: 1.44 s → ~0.4 s warm at sf0.1 with the cache
    // hot; a standalone simhash run still builds the shared cache at
    // the same cost the old per-flavor pipeline paid). Per-row simhash
    // via the codegen'd simhash_sig kernel, joined onto the cached
    // pairs — a confirmed-pair-sized join, not a candidate-sized one.
    val withSim = groups
      .select(col("rep").as("doc_id"), expr("simhash_sig(toks)").as("sim"))
    val repPairs = confirmedRepPairs(c, tau, numHashes, bands)
      .join(withSim.select(col("doc_id").as("a"), col("sim").as("sa")), "a")
      .join(withSim.select(col("doc_id").as("b"), col("sim").as("sb")), "b")
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= maxHamming)
      .select(col("a"), col("b"), col("j"))
    fanOut(c, repPairs)
  }

  /** n-gram (shingle-set) Jaccard near-duplicate pairs, banded like
    * the token-set flavor. Order-sensitive where token sets are not.
    * Default 10 bands × 3 rows: on this testbed random pairs score
    * J≈0.027 (p99 0.079) while true τ=0.5 pairs all score ≥ 0.9, so
    * the per-pair miss probability at J=0.9 is (1-0.9³)^10 ≈ 2e-6
    * while random-pair collision falls to ~10·J³ ≈ 2e-4 (r=2 let
    * ~16·J² ≈ 1% of random pairs through — 2× the confirm cost). */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double,
      numHashes: Int = 30, bands: Int = 10): DataFrame =
    setNearDupPairs(df, idCol, ngramSet(col(textCol), n), tau, numHashes, bands)

  /** Driver union-find fast path for the CC fixpoint: when the
    * confirmed REP-pair graph is small enough, collect it and solve
    * exactly on the driver instead of paying supersteps × fixed job
    * overhead in the distributed loop (measured at sf0.1: 8
    * supersteps ≈ 3.6 s warm for a ~3k-edge graph a single thread
    * solves in microseconds). This is the IVF-training class of
    * bounded driver work — the gate caps driver memory (1M edges ⇒
    * ≤2M parent-map entries, ~100 MB worst case), and the graph
    * collected is the COLLAPSED rep graph, already orders smaller
    * than the corpus; past the gate the distributed loop below is the
    * 100 TB path. Union-by-min keeps every root the minimum of its
    * set, so labels are exactly the loop's fixpoint. Returns None
    * (caller falls through to the loop) when the id type is not
    * atomic-Comparable or the two columns' types differ (boxed
    * equality would split components across e.g. Integer/Long), a
    * null id appears (the loop's join semantics own that pathology),
    * or the graph exceeds the gate. */
  private[graft] def driverComponents(repPairs: DataFrame, maxEdges: Long): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val aType = repPairs.schema("a").dataType
    if (repPairs.schema("b").dataType != aType) return None
    // the external row values must be java.lang.Comparable for the
    // union-by-min ordering (rules out binary/array/struct ids)
    val comparableId = aType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           DoubleType | FloatType | BooleanType | DateType | TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
    if (!comparableId) return None
    if (maxEdges < 0) return None
    // ONE bounded action — no caching contract on the input: collect
    // at most gate+1 rows and bail on overflow (a count-then-collect
    // pair would run an uncached confirm pipeline twice). Gates above
    // the JVM array bound clamp to it, so an over-gate graph always
    // falls back to the distributed loop instead of a driver OOM.
    val gate = math.min(maxEdges, (Int.MaxValue - 2).toLong).toInt
    val edges = repPairs.select(col("a"), col("b")).limit(gate + 1).collect()
    if (edges.length > gate) return None
    if (edges.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // Spark's min() on strings compares UTF-8 bytes (UTF8String),
    // which diverges from String.compareTo's UTF-16 order on
    // supplementary characters — compare bytes to match the loop
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        val (ba, bb) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        java.util.Arrays.compareUnsigned(ba, bb) < 0
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      var c = x // path compression
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { row =>
      val ra = find(row.get(0)); val rb = find(row.get(1))
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val nodes = new java.util.LinkedHashSet[Any]()
    edges.foreach { r => nodes.add(r.get(0)); nodes.add(r.get(1)) }
    val rows = nodes.asScala.toSeq.map(n => Row(n, find(n))).asJava
    val schema = StructType(Seq(StructField("node", aType), StructField("lab", aType)))
    Some(repPairs.sparkSession.createDataFrame(rows, schema))
  }

  /** Near-duplicate CLUSTER assignment (doc_id → rep): the output a
    * 100 TB dedup actually ships. Pair lists grow quadratically with
    * duplicate-cluster size (190,925 pairs from 5,000 docs at sf0.1);
    * cluster assignments stay linear and pairs can be derived on
    * demand. Connected components over the confirmed REP-pair graph:
    * a size-gated exact driver union-find when the graph fits
    * `maxDriverEdges` (see [[driverComponents]]), else iterated
    * min-label propagation — cluster diameters are tiny (near-dup
    * clusters are near-cliques), so the loop converges in a few
    * supersteps; each iterate is localCheckpoint'ed to cut lineage.
    * Both paths produce identical labels (asserted in ApiSpec).
    * Every input doc appears, singletons as their own rep. */
  def minhashNearDupClusters(
      df: DataFrame, idCol: String, textCol: String, tau: Double,
      numHashes: Int = 32, bands: Int = 8, maxIters: Int = 20,
      maxDriverEdges: Long = 1000000L): DataFrame =
    setNearDupClusters(df, idCol, tokenSet(col(textCol)), tau,
      numHashes, bands, maxIters, maxDriverEdges)

  /** [[minhashNearDupClusters]] over an arbitrary set-valued column
    * (the cluster-output counterpart of [[setNearDupPairs]] — e.g.
    * shingle sets via [[ngramSet]]). */
  def setNearDupClusters(
      df: DataFrame, idCol: String, setCol: Column, tau: Double,
      numHashes: Int = 32, bands: Int = 8, maxIters: Int = 20,
      maxDriverEdges: Long = 1000000L): DataFrame = {
    Graft.registerAll(df.sparkSession)
    val c = collapse(df, idCol, setCol)
    // propagate on the REP graph (one node per distinct token set) —
    // exact-dup cliques are a single node, so the graph is orders of
    // magnitude smaller than the fanned-out pair list and the member
    // expansion happens exactly once, after the fixpoint
    val repPairs = confirmedRepPairs(c, tau, numHashes, bands)
    val labels = driverComponents(repPairs, maxDriverEdges)
      .getOrElse(loopComponents(repPairs, maxIters))
    // fan the rep labels out through the membership relation — an
    // equi-join, no member arrays (singleton reps, absent from the
    // CC solve, keep their own id); docs dropped by collapse (empty
    // sets) come back as singletons via the second left join
    val assigned = c.membership
      .join(labels.withColumnRenamed("node", "rep"), Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("rep")).as("lab"))
    df.select(col(idCol).as("doc_id"))
      .join(assigned, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("rep"))
  }

  /** [[setNearDupClusters]] restricted to a SUBSET of the corpus,
    * REUSING the corpus-level collapse caches instead of rebuilding
    * the whole LSH pipeline over the subset (r21 opt, guide §1.2: fix
    * the algorithm). The curation capstone dedups its quality/
    * repetition/exact-dedup SURVIVORS — a filtered corpus whose fresh
    * collapse re-ran tokenize + signatures + band join + confirm every
    * invocation (~2 s of its 3 s at sf0.1), even though every one of
    * those stages is a pure function of the token SETS, which the
    * corpus-level collapse already holds pinned (and shares with the
    * dedup keys).
    *
    * Equivalence to `setNearDupClusters(corpus ∩ surviving)` — the
    * form ApiSpec asserts row-identical and the oracle re-proves:
    *  - the subset's distinct sets are exactly the corpus sets with
    *    ≥1 surviving member (membership ∩ surviving, re-repped by min
    *    surviving id);
    *  - a candidate pair of surviving sets shares a band key iff it
    *    did in the corpus run (signatures depend only on the sets),
    *    and the exact-Jaccard confirm is set-deterministic — so the
    *    corpus-level confirmed pairs RESTRICTED to surviving sets are
    *    precisely the subset run's confirmed pairs (pair ORDER can
    *    flip under re-repping, which CC is insensitive to — this
    *    reuse is therefore only sound for the cluster output form,
    *    never the ordered pair-list form);
    *  - CC's min-label over re-repped nodes = min surviving member of
    *    the component, the fresh run's label by the same argument.
    *
    * At 100 TB this is the difference between re-running LSH over the
    * surviving 70-90% of the corpus per pipeline stage and reusing
    * the stage output a real pipeline would have materialized anyway.
    * `surviving` carries the ids (column `idCol`), ⊆ the corpus'. */
  def setNearDupClustersOfSubset(
      corpus: DataFrame, idCol: String, setCol: Column,
      surviving: DataFrame, tau: Double,
      numHashes: Int = 32, bands: Int = 8, maxIters: Int = 20,
      maxDriverEdges: Long = 1000000L): DataFrame = {
    Graft.registerAll(corpus.sparkSession)
    val c = collapse(corpus, idCol, setCol)
    val sIds = surviving.select(col(idCol).as("doc_id"))
    // surviving members of each corpus set, re-repped by min
    // surviving id (what a fresh collapse over the subset computes)
    val sMem = c.membership.join(sIds, "doc_id")
    val sGroups = sMem.groupBy(col("rep")).agg(min(col("doc_id")).as("srep"))
    // corpus-level confirmed pairs (pinned, shared with the dedup
    // keys) restricted to surviving sets and re-repped; least/greatest
    // restores the a<b convention the CC solvers expect — two distinct
    // sets never share a surviving rep (each doc has exactly one set)
    val sPairs = confirmedRepPairs(c, tau, numHashes, bands)
      .join(sGroups.select(col("rep").as("a"), col("srep").as("sa")), "a")
      .join(sGroups.select(col("rep").as("b"), col("srep").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("a"),
        greatest(col("sa"), col("sb")).as("b"))
    val labels = driverComponents(sPairs, maxDriverEdges)
      .getOrElse(loopComponents(sPairs, maxIters))
    val assigned = sMem
      .join(sGroups, Seq("rep"))
      .join(labels.withColumnRenamed("node", "srep"), Seq("srep"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("srep")).as("lab"))
    // docs dropped by collapse (null/empty sets) come back as
    // singletons, exactly as in setNearDupClusters
    sIds.join(assigned, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("rep"))
  }

  /** [[setNearDupClustersOfSubset]] over whitespace token sets. */
  def minhashNearDupClustersOfSubset(
      corpus: DataFrame, idCol: String, textCol: String,
      surviving: DataFrame, tau: Double,
      numHashes: Int = 32, bands: Int = 8, maxIters: Int = 20,
      maxDriverEdges: Long = 1000000L): DataFrame =
    setNearDupClustersOfSubset(corpus, idCol, tokenSet(col(textCol)),
      surviving, tau, numHashes, bands, maxIters, maxDriverEdges)

  /** Distributed CC fixpoint (the past-the-gate scale path): min-label
    * propagation + pointer jumping over the rep graph. */
  private[graft] def loopComponents(repPairs: DataFrame, maxIters: Int): DataFrame = {
    val edges = repPairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(repPairs.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    // propagate only over nodes with degree ≥ 1: singleton reps (the
    // overwhelming majority of a deduped corpus) can never change
    // label, so they skip the loop entirely and rejoin at fan-out
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val viaEdge = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("lab")).as("nbr_lab"))
      // pointer jump: lab(lab(v)) — labels are always real node ids
      // within the component, so composing them shortcuts the
      // remaining propagation depth each superstep (hash-min alone
      // needs diameter-many rounds). Two rejected variants, both
      // measured SLOWER: true pointer DOUBLING (squaring the new
      // mapping inside the superstep) cuts supersteps 8 → 5 but
      // doubles per-superstep join count, a net loss when supersteps
      // are fixed-overhead-bound; and fusing the jump into the edge
      // join by unioning label-edges (v → lab(v)) onto `edges` halves
      // the join count on paper but rebuilds the union every
      // superstep, forfeiting the cached edge relation (6.4 s → 14 s
      // warm at sf0.1). Disabling AQE for the loop also measured ~2×
      // slower: AQE's partition coalescing is what keeps each tiny
      // superstep shuffle at ~1 task instead of 32.
      val jump = labels.select(col("node").as("lab"), col("lab").as("jmp_lab"))
      // carry the previous label through the checkpoint so the
      // convergence test is a filter on the materialized frame, not
      // another join
      val next = labels.join(viaEdge, Seq("node"), "left")
        .join(jump, Seq("lab"), "left")
        .select(col("node"),
          least(least(col("lab"), coalesce(col("nbr_lab"), col("lab"))),
            coalesce(col("jmp_lab"), col("lab"))).as("lab"),
          col("lab").as("old_lab"))
        .localCheckpoint()
      converged = next.filter(col("lab") =!= col("old_lab")).isEmpty
      labels = next.select(col("node"), col("lab"))
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Count of the most frequent element in a string array, computed
    * per ROW: sort, then one fold counting the longest equal run —
    * O(n log n) a row, zero shuffles, no explode. The streaming-fold
    * shape is what survives 100 TB: the explode → (doc, token) groupBy
    * alternative shuffles the whole exploded corpus twice per metric. */
  private def maxRunCount(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** The per-row repetition-ratio COLUMNS of [[repetitionStats]] with
    * `nullAsRepetitive = true` — for funnels that compute the signal
    * in the SAME projection as their other per-row flags instead of
    * joining the stats frame back on the id (r22 opt: the pipeline's
    * signal chain scanned and tokenized the corpus TWICE and paid two
    * doc_id exchanges for what is a pure per-row function of the
    * text). Value-identical to the frame form — same [[maxRunCount]] /
    * [[wordNgrams]] expressions, same cast-then-divide arithmetic,
    * same null-text → 1.0 policy; asserted row-identical in ApiSpec. */
  def repetitionRatioCols(textCol: Column): (Column, Column) = {
    val tk = split(textCol, " ")
    val nToks = size(tk)
    (when(textCol.isNull, lit(1.0))
       .otherwise(maxRunCount(tk).cast("double") / nToks),
     when(textCol.isNull, lit(1.0))
       .otherwise(maxRunCount(wordNgrams(tk, 2)).cast("double")
         / greatest(nToks - 1, lit(1))))
  }

  /** Gopher-style repetition metrics per document: the share of
    * tokens claimed by the most frequent unigram and bigram. High
    * ratios mark boilerplate / degenerate repetition — the standard
    * pre-training filter signal alongside [[fingerprint]] and the
    * dedup families. Returns (doc_id, n_toks, top_tok_n,
    * top_bigram_n, top_tok_ratio, top_bigram_ratio). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      nullAsRepetitive: Boolean = false): DataFrame = {
    val tk = col("tk")
    // Default: null text is dropped (not scored null) — matches the
    // SQL-side inner-join-on-counts shape and keeps `keep` a non-null
    // boolean, which the output representation contract requires.
    // nullAsRepetitive=true instead scores a null document as
    // (n_toks 0, ratios 1.0) — maximally repetitive, failing every
    // downstream quality gate — so the stats are TOTAL over doc ids
    // and a funnel can inner-join 1:1 instead of left-joining and
    // null-guarding each ratio (the r16 pipeline shape VERDICT #5
    // flagged).
    val base = if (nullAsRepetitive) df else df.filter(col(textCol).isNotNull)
    base
      .select(col(idCol).as("doc_id"), col(textCol).isNull.as("tnull"),
        split(col(textCol), " ").as("tk"))
      .select(col("doc_id"), col("tnull"),
        when(col("tnull"), lit(0)).otherwise(size(tk)).as("n_toks"),
        when(col("tnull"), lit(0)).otherwise(maxRunCount(tk)).as("top_tok_n"),
        when(col("tnull"), lit(0))
          .otherwise(maxRunCount(wordNgrams(tk, 2))).as("top_bigram_n"))
      .select(col("doc_id"), col("n_toks"), col("top_tok_n"), col("top_bigram_n"),
        when(col("tnull"), lit(1.0))
          .otherwise(col("top_tok_n").cast("double") / col("n_toks"))
          .as("top_tok_ratio"),
        when(col("tnull"), lit(1.0))
          .otherwise(col("top_bigram_n").cast("double")
            / greatest(col("n_toks") - 1, lit(1)))
          .as("top_bigram_ratio"))
  }

  private def tokhash(c: Column) =
    length(c) * 961 + ascii(substring(c, 1, 1)) * 31 + ascii(substring(c, -1, 1))

  /** Positional rolling hash per 4-token window (shared by
    * [[fingerprint]] and [[winnow]]). */
  private def windowHashes(tk: Column): Column =
    transform(sequence(lit(1), size(tk) - 3),
      i => (0 until 4).map(k => tokhash(element_at(tk, i + k)) * (k + 1)).reduce(_ + _))

  /** Winnowing-lite rolling-hash fingerprint over 4-token windows. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .filter(size(col("tk")) >= 4)
      .select(col("doc_id"), array_min(windowHashes(col("tk"))).as("fp"))

  /** Full winnowing (the MOSS fingerprint-selection algorithm,
    * Schleimer/Wilkerson/Aiken 2003): over the per-position 4-token
    * rolling hashes, slide a guarantee window of `w` hashes and keep
    * each window's MINIMUM; the distinct selected minima are the
    * document's fingerprint set. Any shared token run of length
    * ≥ w + 3 between two documents is guaranteed to share a selected
    * fingerprint — so docs bucket by fingerprint for near-dup
    * candidate generation with NO pairwise work, the groupable scale
    * path [[fingerprint]] only approximates with its single global
    * min. Per-row O(tokens × w) fold, shuffle-free, linear.
    * Docs shorter than w + 3 tokens (no full window) are dropped. */
  def winnow(df: DataFrame, idCol: String, textCol: String, w: Int = 5): DataFrame = {
    require(w > 0, "guarantee window must be positive")
    val tk = col("tk")
    val hs = col("hs")
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .filter(size(tk) >= w + 3)
      .select(col("doc_id"), windowHashes(tk).as("hs"))
      .select(col("doc_id"),
        array_sort(array_distinct(
          transform(sequence(lit(1), size(hs) - (w - 1)),
            i => array_min(slice(hs, i, lit(w)))))).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fps"),
        concat_ws(",", transform(col("fps"), x => x.cast("string"))).as("fps_csv"))
  }

  /** Concat-and-chunk sequence-packing spans: documents are laid end
    * to end in ascending id order and the token stream is cut every
    * `chunkTokens` tokens (the GPT-style packing a pre-training run
    * performs before batching); per document, the global start offset
    * and the chunk indices it lands in.
    *
    * The global prefix sum is a two-phase distributed scan, NOT a
    * single-partition Window: ids are bucketed by a PURE id-range
    * function (so the assignment is deterministic — no sampled
    * RangePartitioner bounds), each bucket's token subtotal is a
    * partial-aggregable groupBy, and only the O(numParts) subtotal
    * rows reach the driver to be turned into cumulative base offsets
    * that broadcast-join back. Within a bucket the running sum is an
    * ordinary `Window.partitionBy(bucket)` — parallel across buckets.
    * This is the shape that survives 100 TB, where
    * `Window.orderBy(id)` with no partitionBy funnels the whole
    * corpus through one task; output equality with that
    * single-partition form is asserted in ApiSpec.
    *
    * Requires an integral id column (cast to long). Null text counts
    * as zero tokens and still receives a (zero-width) span. Bucket
    * sizes follow the id distribution; dense ids (the common
    * sequential case) balance evenly. */
  def packedSpans(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int, numParts: Int = 32): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val counted = df
      .select(col(idCol).cast("long").as("doc_id"),
        when(col(textCol).isNull, 0L)
          .otherwise(size(split(col(textCol), " ")).cast("long")).as("n_toks"))
    // driver phase: two bounded actions — one MAX row, numParts
    // subtotal rows — independent of corpus size
    val maxId = counted.agg(max(col("doc_id"))).as[Option[Long]].head() match {
      case Some(m) => m
      case None    => return counted
        .select(col("doc_id"), col("n_toks"), lit(0L).as("start_tok"),
          lit(0L).as("first_chunk"), lit(0L).as("last_chunk"), lit(0L).as("n_chunks"))
    }
    val span = math.max(1L, (maxId + numParts) / numParts) // ceil((maxId+1)/numParts)
    def bucketOf(id: Column): Column = (id / span).cast("int")
    val subtotals = counted.groupBy(bucketOf(col("doc_id")).as("bucket"))
      .agg(sum(col("n_toks")).as("sub")).as[(Int, Long)].collect().sortBy(_._1)
    val bases = subtotals.scanLeft((0, 0L)) { case ((_, acc), (b, s)) => (b, acc + s) }
    // bases(i)._2 pairs with subtotals(i)._1: sum of all EARLIER buckets
    val baseDf = subtotals.map(_._1).zip(bases.map(_._2))
      .toSeq.toDF("bucket", "base")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    counted.withColumn("bucket", bucketOf(col("doc_id")))
      .join(broadcast(baseDf), "bucket")
      .withColumn("start_tok", col("base") + coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_toks"), col("start_tok"),
        expr(s"start_tok DIV $chunkTokens").as("first_chunk"),
        expr(s"(start_tok + GREATEST(n_toks - 1, CAST(0 AS BIGINT))) DIV $chunkTokens")
          .as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
  }
}
