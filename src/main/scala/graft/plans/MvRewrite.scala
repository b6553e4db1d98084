package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max => fmax, min => fmin, sum => fsum}
import org.apache.spark.sql.types.LongType

import graft.sources.Snapshots

/** Hive 3's `CREATE MATERIALIZED VIEW ... ENABLE REWRITE`
  * (`ql.metadata.HiveMaterializedViewsRegistry` + Calcite's
  * summary-table rewrite), re-expressed Spark-first: a registered
  * summary table plus an OPT-IN `Rule[LogicalPlan]` that redirects a
  * matching aggregate query from the fact scan onto the summary —
  * the user keeps writing the query against the fact table and flips
  * one conf to serve it from the materialization.
  *
  * Scope (the classic roll-up rewrite, stated honestly):
  *   - the query aggregates over a scan of the registered fact path
  *     (a Project of plain columns in between is fine — that is what
  *     column pruning leaves), optionally filtered by a DETERMINISTIC
  *     predicate over DIMENSIONS ONLY (constant within each summary
  *     group, so it moves onto the summary exactly; any predicate
  *     touching a measure selects within groups and declines);
  *   - its group-by columns are a subset of the MV's dimensions;
  *   - each aggregate is `sum(m)` / `count(1)` / `count(m)` /
  *     `min(m)` / `max(m)` / `avg(m)` over a registered measure, no
  *     DISTINCT, no FILTER clause.
  * Then sum rolls up as sum-of-partial-sums, count as sum-of-counts,
  * min/max as min/max-of-partials, and avg as sum-of-sums over
  * sum-of-counts (`avg(m)` = `Σ s_m / Σ c_m`, Calcite's summary-
  * rewrite decomposition — r17 verdict #3; the division mirrors
  * Spark's own `Average.evaluateExpression` operand types so decimal
  * rounding is bit-identical to the fact-side plan). These
  * re-aggregation identities make the rewrite EXACT (decimal sums
  * stay exact; this is the same mergeability discipline as
  * `agg_hll_sketch`). Still out of scope (declined, never rewritten
  * wrong): DISTINCT aggregates, FILTER clauses, measure-referencing
  * predicates, stddev/variance (no Σm² partial in the summary),
  * percentile/median (not decomposable from group partials).
  *
  * Freshness contract: like Hive's, rewrite answers are as fresh as
  * the last materialization (`hive.materializedview.rewriting` serves
  * stale views within a window); re-run [[MvRewrite.materialize]]
  * after fact updates. At 100 TB that is the entire point — the 2-3
  * orders of magnitude between re-scanning the fact table and
  * re-aggregating a summary whose cardinality is the dim product.
  *
  * Storage: the summary is a snapshot table
  * ([[graft.sources.Snapshots]]) under its declared root — every
  * (re)build is one commit, so versions, atomicity and retention are
  * the commit log's, like Hive 3's transactional MV tables.
  *
  * Registration: `MvRewrite.install(spark)` (live session) or
  * `spark.sql.extensions=graft.plans.GraftExtensions`; inert until
  * `spark.graft.mv.rewrite.enabled=true`.
  */
case class MvRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  import MvRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (isSuppressed || conf.getConfString(EnabledKey, "false") != "true") plan
    else plan.transformUp {
      case agg @ Aggregate(groups, aggExprs, child, _) if agg.resolved =>
        (for {
          (path, cond) <- scanPath(child)
          mv <- lookup(session, path)
          rewritten <- tryRewrite(groups, aggExprs, cond, mv)
        } yield rewritten).getOrElse(agg)
    }

  /** The fact path a (possibly column-pruned, possibly filtered) scan
    * reads, plus the conjunction of any Filter conditions on the way
    * down. Joins or computed projections disqualify the rewrite; a
    * surviving filter is admissible ONLY if tryRewrite proves it
    * references dimensions alone (a dim-only predicate is constant
    * within each summary group, so filtering summary rows ≡ filtering
    * fact rows — the rewrite stays exact; a measure predicate selects
    * WITHIN groups and can never be answered from group totals). */
  private def scanPath(p: LogicalPlan): Option[(String, Option[Expression])] =
    p match {
      case Project(projList, grandchild)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        scanPath(grandchild)
      case Filter(cond, grandchild) if cond.deterministic =>
        scanPath(grandchild).map { case (path, inner) =>
          (path, inner.map(And(cond, _)).orElse(Some(cond)))
        }
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption.map(_.toUri.getPath -> None)
        case _ => None
      }
      case _ => None
    }

  /** Build the replacement Aggregate over the MV scan, aliasing every
    * output to the ORIGINAL expression ids (no analyzer runs after
    * this batch, so references above the node must keep resolving). */
  private def tryRewrite(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], cond: Option[Expression],
      mv: Mv): Option[LogicalPlan] = {
    val mvScan = Snapshots.readAsOf(session, mv.mvPath, mv.version).queryExecution.analyzed
    val mvAttr = mvScan.output.map(a => a.name -> a).toMap
    // a fact-side filter is admissible only over dimensions (exactness
    // proof in scanPath's doc) and with no subquery to re-plan
    cond.foreach { c =>
      val dimOnly = c.references.forall(a => mv.dims.contains(a.name))
      if (!dimOnly || c.exists(_.isInstanceOf[PlanExpression[_]])) return None
    }
    val groupNames = groups.map {
      case a: AttributeReference if mv.dims.contains(a.name) => a.name
      case _ => return None
    }
    def rollup(f: AggregateFunction): Option[Expression] = f match {
      case Sum(a: AttributeReference, _) if mv.measures.contains(a.name) =>
        Some(Sum(mvAttr(s"s_${a.name}")).toAggregateExpression())
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(Sum(mvAttr("cnt_rows")).toAggregateExpression())
      case Count(Seq(a: AttributeReference)) if mv.measures.contains(a.name) =>
        Some(Sum(mvAttr(s"c_${a.name}")).toAggregateExpression())
      case Min(a: AttributeReference) if mv.measures.contains(a.name) =>
        Some(Min(mvAttr(s"mn_${a.name}")).toAggregateExpression())
      case Max(a: AttributeReference) if mv.measures.contains(a.name) =>
        Some(Max(mvAttr(s"mx_${a.name}")).toAggregateExpression())
      // avg(m) = Σ s_m / Σ c_m (r17 verdict #3). Division operand
      // types mirror Average.evaluateExpression's exactly:
      //  - decimal(p,s) measure: the fact side divides its sum buffer
      //    decimal(p+10,s) by count cast decimal(20,0) — s_m's COLUMN
      //    type IS that buffer type (materialize wrote sum(m)), so
      //    casting Σ s_m back to it reproduces the identical divide
      //    result type and rounding (a wider dividend would round at
      //    a different intermediate scale → double-rounding drift in
      //    the last digit);
      //  - anything else: double / double, as Average does.
      // The caller's Cast-to-original-type restates avg's declared
      // output type (decimal(p+4,s+4) / double).
      // evalMode guard (r18 advice): the replacement Sum/Divide below
      // are BUILT from the current session conf, so the rewrite is
      // exact only when the original avg's mode IS the session mode —
      // that admits plain avg (ANSI under Spark 4's default, LEGACY
      // with ANSI off) and declines try_avg (TRY never matches) and
      // any cross-conf plan, whose overflow/error semantics a
      // conf-built pipeline would not reproduce.
      case Average(a: AttributeReference, evalMode)
          if mv.measures.contains(a.name) &&
            evalMode == EvalMode.fromSQLConf(
              org.apache.spark.sql.internal.SQLConf.get) =>
        val sCol = mvAttr(s"s_${a.name}")
        val sumAgg = Sum(sCol).toAggregateExpression()
        val cntAgg = Sum(mvAttr(s"c_${a.name}")).toAggregateExpression()
        Some(sCol.dataType match {
          case d: org.apache.spark.sql.types.DecimalType =>
            Divide(Cast(sumAgg, d),
              Cast(cntAgg, org.apache.spark.sql.types.DecimalType(20, 0)))
          case _ =>
            Divide(Cast(sumAgg, org.apache.spark.sql.types.DoubleType),
              Cast(cntAgg, org.apache.spark.sql.types.DoubleType))
        })
      case _ => None
    }
    val newAggs = aggExprs.map {
      // group column passthrough (bare or aliased)
      case a: AttributeReference if mv.dims.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, name) if mv.dims.contains(a.name) =>
        Alias(mvAttr(a.name), name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        rollup(ae.aggregateFunction) match {
          case Some(e) =>
            // the roll-up may widen the type (sum of decimal partial
            // sums gains precision) and makes counts nullable; restore
            // the original output type and non-nullness exactly
            val typed = if (e.dataType == al.dataType) e
              else Cast(e, al.dataType)
            val guarded = if (al.nullable || typed.nullable == false) typed
              else Coalesce(Seq(typed, Literal.default(al.dataType)))
            Alias(guarded, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val _ = groupNames // subset check happened by construction above
    // the admissible dim-only filter moves onto the summary's own
    // dimension columns (group selection ≡ row selection for dims)
    val source = cond.fold(mvScan) { c =>
      Filter(c.transform { case a: AttributeReference => mvAttr(a.name) }, mvScan)
    }
    Some(Aggregate(groups.map {
      case a: AttributeReference => mvAttr(a.name)
    }, newAggs, source))
  }
}

object MvRewrite {
  /** Opt-in flag. Enabling accepts Hive's MV-rewrite freshness
    * contract: answers reflect the last materialization, not
    * later fact writes. Within-scope rewrites are otherwise exact. */
  val EnabledKey = "spark.graft.mv.rewrite.enabled"

  /** Rebuild-scoped rule suppression (r17 verdict #6). A rebuild's own
    * aggregate matches the rewrite pattern, so with the rule enabled
    * it would recompute the summary FROM the stale summary; the
    * pre-r18 fix flipped the session-global conf off, which a
    * CONCURRENT query on the same session could observe (briefly
    * losing the rewrite — or, with two racing rebuilds, a racing
    * restore re-enabling it mid-rebuild). Catalyst optimization runs
    * on the thread that triggers the action (DataFrameWriter /
    * localCheckpoint both plan synchronously on the caller), so a
    * thread-local depth counter scopes the rule off for exactly the
    * rebuild's own plans and nothing else — a concurrent reader on
    * another thread keeps the rewrite throughout (spec-asserted with
    * a rebuild racing a rewritten query). Depth (not boolean): a
    * materialize nested under another suppressed block must not
    * un-suppress on exit. */
  private val suppressDepth: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))
  private[plans] def isSuppressed: Boolean = suppressDepth.get() > 0
  private def suppressed[T](body: => T): T = {
    suppressDepth.set(suppressDepth.get() + 1)
    try body finally suppressDepth.set(suppressDepth.get() - 1)
  }

  /** One registered materialized view. `mvPath` is the user-declared
    * summary root, a snapshot table ([[graft.sources.Snapshots]]);
    * `version` is the committed summary version serving rewrites, which
    * the rule reads through the snapshot scan, and `dirs` that
    * version's data dirs (introspection). Per
    * `dims` group the summary holds `s_<m>`/`c_<m>`/`mn_<m>`/`mx_<m>`
    * for every measure plus `cnt_rows`. When the fact is partitioned
    * and was registered via [[materializePartitioned]], `partCol`
    * names its partition column and `covered` the partition dirs the
    * summary currently reflects — the bookkeeping
    * [[rebuildIncremental]] needs (Hive keeps the same watermark in
    * the metastore as the MV's "valid txn list"). */
  case class Mv(name: String, factPath: String, dims: Seq[String],
      measures: Seq[String], mvPath: String, version: Long, dirs: Seq[String],
      partCol: Option[String] = None, covered: Set[String] = Set.empty)

  /** (session token, canonical fact path) -> MV. Per-session like the
    * catalog it stands in for; keyed with Q.sessionToken so a GC'd
    * session can never leak its views into a new one. */
  private val registry =
    scala.collection.concurrent.TrieMap.empty[(String, String), Mv]

  private def canon(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def key(s: SparkSession, factPath: String): (String, String) =
    (graft.Q.sessionToken(s), canon(factPath))

  private[plans] def lookup(s: SparkSession, path: String): Option[Mv] =
    registry.get(key(s, path))

  /** The currently registered view for a fact path (test/ops
    * introspection — e.g. "which data dirs are serving rewrites?"). */
  def registered(s: SparkSession, factPath: String): Option[Mv] =
    lookup(s, factPath)

  /** Drop the view registered for `factPath` (Hive's `DROP MATERIALIZED
    * VIEW`, registry half): aggregates over the fact plan against the
    * fact again. The summary root's files are the caller's to delete. */
  def unregister(s: SparkSession, factPath: String): Unit =
    registry.remove(key(s, factPath)): Unit

  /** Commit `summary` as the next version of the snapshot table at
    * `mvPath` and register `mv` pointing at it. The commit claims
    * `latest + 1` with an atomic create, so racing rebuilds each get
    * their own version (last registration wins the pointer) and a
    * restarted process can never overwrite a version an earlier one
    * left behind. Retention keeps the previous version's markers
    * (`keepLast = 2`); a retired version's files get the default
    * orphan grace window, so a reader that planned against it — or a
    * racing rebuild still staging under the same root — never loses
    * its files. Runs suppressed: the commit plans the rebuild's own
    * aggregate, which the rule must not answer from the summary. */
  private def publish(s: SparkSession, mv: Mv, summary: DataFrame): Mv =
    suppressed {
      val v = Snapshots.commitTransform(s, mv.mvPath)(_ => summary)
      val published = mv.copy(version = v,
        dirs = Snapshots.manifestDirs(s, mv.mvPath, v))
      registry(key(s, mv.factPath)) = published
      Snapshots.expire(s, mv.mvPath, keepLast = 2): Unit
      published
    }

  /** Per-measure partials the summary carries (sum/count/min/max) plus
    * the row count — ONE pass over the fact table serves every
    * supported aggregate. */
  private def partials(measures: Seq[String]): Seq[Column] =
    measures.flatMap { m =>
      Seq(fsum(col(m)).as(s"s_$m"), count(col(m)).as(s"c_$m"),
        fmin(col(m)).as(s"mn_$m"), fmax(col(m)).as(s"mx_$m"))
    } :+ count(lit(1)).as("cnt_rows")

  /** Compute and write the summary for (`dims`, `measures`) over
    * `fact`, then register it for rewrite.
    *
    * Rebuild atomicity (r17 verdict #6): each build is one commit to
    * the snapshot table at `mvPath` — fresh immutable data dirs plus
    * one atomic marker — and then swaps the registry pointer, because
    * an in-place `mode(overwrite)` deletes the dir before rewriting it
    * and a concurrent reader would plan (or execute) against a
    * half-missing summary. A reader therefore always sees a COMPLETE
    * version: the old one until the swap, the new one after. Racing
    * rebuilds claim distinct versions and last-swap-wins on the
    * pointer; retention is [[publish]]'s. Returns the registered view. */
  def materialize(s: SparkSession, name: String, fact: DataFrame,
      factPath: String, dims: Seq[String], measures: Seq[String],
      mvPath: String): Mv = {
    val aggs = partials(measures)
    // The rebuild's own aggregate matches the rewrite pattern, so with
    // the rule enabled a REBUILD would recompute the summary FROM the
    // stale summary and never see new fact rows (caught by the
    // freshness-contract spec). publish scopes the rule off for the
    // commit that plans it — thread-locally, so a concurrent reader
    // never loses the rewrite (see [[suppressed]]) — a materialization
    // must always read the fact table.
    publish(s, Mv(name, canon(factPath), dims, measures, mvPath,
        version = 0L, dirs = Nil),
      fact.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*))
  }

  /** Partition-dir coverage via the Hadoop FS API (graft.Fs) —
    * scheme-agnostic, so an hdfs:/s3a: fact root reports its real
    * dirs instead of java.io.File's silent empty set (r17 #1). */
  private def partDirs(s: SparkSession, root: String, partCol: String): Set[String] =
    graft.Fs.partDirs(graft.Fs.fs(s, root), root, partCol).toSet

  /** [[materialize]] over a PARTITIONED fact root, recording which
    * partition dirs the summary covers so later inserts can be
    * absorbed incrementally ([[rebuildIncremental]]) instead of
    * re-scanning the fact. */
  def materializePartitioned(s: SparkSession, name: String,
      factRoot: String, partCol: String, dims: Seq[String],
      measures: Seq[String], mvPath: String): Mv = {
    val covered = partDirs(s, factRoot, partCol)
    val mv = materialize(s, name, s.read.parquet(factRoot), factRoot,
        dims, measures, mvPath)
      .copy(partCol = Some(partCol), covered = covered)
    registry(key(s, mv.factPath)) = mv
    mv
  }

  /** Hive 3's INCREMENTAL materialized-view rebuild
    * (`ALTER MATERIALIZED VIEW ... REBUILD` with
    * `hive.materializedview.rebuild.incremental` [Hive:
    * `ql.parse.MaterializedViewRebuildAnalyzer` + Calcite's
    * aggregate-insert incremental plan]): when the fact table only
    * GAINED rows since the last build, re-aggregating the whole fact
    * is wasted work — aggregate just the delta and MERGE the partials
    * into the standing summary. Partials make that exact: sums and
    * counts add, mins/maxes combine; this is the same mergeability
    * discipline the rewrite itself relies on. At 100 TB the rebuild
    * cost drops from O(fact) to O(new partitions) + O(summary).
    *
    * Precondition (Hive's too): insert-only at partition granularity
    * — new dirs may appear, covered dirs must be unchanged (an
    * UPDATE/DELETE inside a covered partition needs a full
    * [[materialize]]; min/max partials are not subtractable).
    *
    * The merged partials are cast back to the summary's existing
    * column types, so an incremental rebuild is indistinguishable
    * from a full one — including for a summary already read by the
    * rewrite rule. The merge reads the REGISTERED summary version
    * (`Snapshots.readAsOf`, immutable files) and commits the result as
    * the next version through [[publish]] (same rebuild-atomicity
    * discipline as [[materialize]]), so it never overwrites what it
    * reads and a concurrent reader always sees a complete summary.
    *
    * Returns the partition dirs it absorbed (empty → already
    * current, nothing touched). The registry is authoritative for
    * what the summary already covers — the passed value is only a
    * handle, so calling again with a stale copy is a safe no-op. */
  def rebuildIncremental(s: SparkSession, handle: Mv): Seq[String] = {
    val mv = lookup(s, handle.factPath).getOrElse(handle)
    val partCol = mv.partCol.getOrElse(throw new IllegalArgumentException(
      s"MV ${mv.name} was not registered with materializePartitioned"))
    val delta = (partDirs(s, mv.factPath, partCol) -- mv.covered).toSeq.sorted
    if (delta.isEmpty) return Nil
    val aggs = partials(mv.measures)
    // read ONLY the new partition dirs (file-listing-level pruning
    // via basePath — the compactor's discipline)
    val deltaSummary = s.read.option("basePath", mv.factPath)
      .parquet(delta.map(dn => s"${mv.factPath}/$dn"): _*)
      .groupBy(mv.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val old = Snapshots.readAsOf(s, mv.mvPath, mv.version)
    val combine = mv.measures.flatMap { m =>
      Seq(fsum(col(s"s_$m")).as(s"s_$m"), fsum(col(s"c_$m")).as(s"c_$m"),
        fmin(col(s"mn_$m")).as(s"mn_$m"), fmax(col(s"mx_$m")).as(s"mx_$m"))
    } :+ fsum(col("cnt_rows")).as("cnt_rows")
    val merged = old.unionByName(deltaSummary.select(old.columns.map(col): _*))
      .groupBy(mv.dims.map(col): _*).agg(combine.head, combine.tail: _*)
      // the re-sum widens partial types (decimal gains precision,
      // counts go nullable); restate the summary's existing schema
      // exactly so incremental == full rebuild, bit for bit
      .select(old.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    // publish scopes the rule off like materialize (thread-local —
    // concurrent readers keep the rewrite): a rebuild must never be
    // answered from the summary it is refreshing
    publish(s, mv.copy(covered = mv.covered ++ delta), merged)
    delta
  }

  /** Idempotently register the rule on a live session. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[MvRewrite]))
      spark.experimental.extraOptimizations = cur :+ MvRewrite(spark)
  }
}
