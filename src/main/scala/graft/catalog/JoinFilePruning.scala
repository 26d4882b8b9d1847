package graft.catalog

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim
import graft.engine.{GraftTable, KeyDomain}
import graft.tableformat.{Snapshot, TableMetadata}

/** JOIN-DRIVEN (dynamic) FILE PRUNING — the star-schema scale path.
  *
  * A fact-dim join whose dim side is selectively filtered reads, by
  * default, EVERY fact file: the join's key domain is only known at
  * runtime, so static metadata pruning (partition transforms + manifest
  * bounds, [[graft.engine.PartitionPruning]]/[[graft.engine.StatsPruning]])
  * never sees it. At 100 TB that is the single largest wasted scan —
  * `orders ⋈ customer WHERE c_nation = 'KENYA'` touches a few percent
  * of the fact's files but scans them all.
  *
  * This closes the gap the way Iceberg's Spark runtime filtering and
  * Spark's own dynamic partition pruning do, but at PLANNING time
  * against graft manifests: when one join side is a graft scan (the
  * probe) and the other side is provably small from ITS manifest stats
  * (the build), the build side's join-key domain is evaluated with one
  * tiny Spark job ([[KeyDomain]]: the distinct key set when it fits
  * `maxKeys`, the min/max range otherwise) and fed into the probe's
  * file planning as a synthetic `key IN (...)` / `lo <= key <= hi`
  * predicate.
  * `bucket(N, key)` layouts prune by the IN-set's hashes, clustered /
  * identity layouts by bounds; either way the probe's file list
  * collapses BEFORE the scan plan is built, manifest-level veto
  * included. The join itself still executes — pruning only shrinks the
  * file list, so correctness never depends on it (files are dropped
  * only when manifests prove they hold no key from the build domain,
  * and NULL keys never equi-join).
  *
  * Two ways a join side is recognized:
  *   - an unswapped graft relation (the SQL path — the resolution rule
  *     defers the relation swap until the join resolves);
  *   - a [[GraftTable.ReadRoot]]-tagged engine read (the DataFrame-API
  *     path — `t.read().join(...)` analyzes eagerly leaf-first, so by
  *     join time the scan is already planned; the tag carries the
  *     captured (metadata, snapshot) and re-derivation stays pinned to
  *     that snapshot, never drifting to later commits).
  *
  * Soundness by join type: Inner prunes either side; LeftSemi prunes
  * the left (its output is left rows WITH a match); LeftOuter prunes
  * only the right (all left rows survive); RightOuter mirrors. Anti
  * and full joins are never pruned.
  *
  * Cost control: the build side's FILTERED manifest row estimate must
  * be at most `maxBuildRows` and the probe estimate must exceed it by
  * [[KeyDomain.Ratio]] — a self-join (the dedup shape) or dim-dim join
  * never pays the evaluation job. Settings: see [[KeyDomain]].
  */
private[graft] object JoinFilePruning {

  /** Test hooks: how many joins were dynamically pruned, and the last
    * build-side key-domain size (−1 = range fallback was used).
    */
  private[graft] val pruneEvents = new AtomicLong(0L)
  private[graft] val lastBuildKeys = new AtomicLong(-1L)

  /** Each Join is attempted at most once per plan instance: the tag
    * survives because the rule either mutates the node in place (tags
    * are node-local mutable state) or copies it through transform,
    * which copies tags.
    */
  private val Attempted = TreeNodeTag[Boolean]("graft.joinPruneAttempted")

  /** A join side the rule understands: a graft scan — unswapped
    * relation or tagged engine read — under any stack of aliases,
    * filters, and alias-only projections (filters accumulate: they
    * narrow both the build estimate and the probe's static pruning).
    * `base` is a pruning condition the captured read already applied;
    * re-derivations fold it back in so they never scan MORE than the
    * original. `names` maps every attribute id visible anywhere in the
    * wrapper stack to its underlying SCAN COLUMN name — key and filter
    * expressions are translated through it before touching manifests,
    * so renames in a projection can't misdirect pruning.
    */
  private[graft] final case class GraftSide(anchor: LogicalPlan,
      table: GraftTable, m: TableMetadata, snap: Snapshot,
      base: Option[Expression], filters: Seq[Expression],
      names: Map[ExprId, String]) {

    /** The expression with every attribute swapped for its scan-column
      * name (unresolved — StatsPruning/PartitionPruning match by name,
      * and DataFrame.filter re-resolves against the fresh read). None
      * when any referenced attribute doesn't trace to a scan column.
      */
    def toScanExpr(e: Expression): Option[Expression] =
      if (!e.references.forall(a => names.contains(a.exprId))) None
      else Some(e.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(names(a.exprId))
      })

    def scanColumn(a: AttributeReference): Option[String] = names.get(a.exprId)
  }

  private[graft] def graftSideOf(p: LogicalPlan): Option[GraftSide] =
    p.getTagValue(GraftTable.ReadRoot) match {
      case Some((t, m, s, cond)) =>
        Some(GraftSide(p, t, m, s, cond, Nil,
          p.output.map(a => a.exprId -> a.name).toMap))
      case None => p match {
        case SubqueryAlias(_, c) => graftSideOf(c)
        case Filter(cond, c) =>
          graftSideOf(c).map(s => s.copy(filters = cond +: s.filters))
        case org.apache.spark.sql.catalyst.plans.logical.Project(items, c) =>
          // alias-only projections pass through (the relation-swap
          // rebind is one; user selects of bare columns another) —
          // outer ids map to the underlying scan names, inner ids stay
          // valid for filters collected below
          graftSideOf(c).flatMap { s =>
            val mapped = items.map {
              case a: AttributeReference =>
                s.names.get(a.exprId).map(a.exprId -> _)
              case al @ Alias(a: AttributeReference, _) =>
                s.names.get(a.exprId).map(al.exprId -> _)
              case _ => None
            }
            if (mapped.exists(_.isEmpty)) None
            else Some(s.copy(names = s.names ++ mapped.flatten))
          }
        // DISTINCT / pure GROUP-BY-the-output-columns shapes pass
        // through: deduplication never changes a column's VALUE SET
        // (every surviving row existed below), so names, filters, and
        // the evaluated key domain stay exact — the common
        // `JOIN (SELECT DISTINCT k FROM dim WHERE ...)` build. The
        // manifest row estimate stays PRE-distinct, an overestimate
        // that can only refuse, and the domain evaluation's own
        // distinct makes it value-identical to the subquery's.
        case d: org.apache.spark.sql.catalyst.plans.logical.Distinct =>
          graftSideOf(d.child)
        case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if agg.groupingExpressions
              .forall(_.isInstanceOf[AttributeReference]) &&
              agg.aggregateExpressions.forall {
                case a: AttributeReference =>
                  agg.groupingExpressions.exists {
                    case g: AttributeReference => g.exprId == a.exprId
                    case _                     => false
                  }
                case Alias(a: AttributeReference, _) =>
                  agg.groupingExpressions.exists {
                    case g: AttributeReference => g.exprId == a.exprId
                    case _                     => false
                  }
                case _ => false
              } =>
          graftSideOf(agg.child).flatMap { s =>
            val mapped = agg.aggregateExpressions.map {
              case a: AttributeReference =>
                s.names.get(a.exprId).map(a.exprId -> _)
              case al @ Alias(a: AttributeReference, _) =>
                s.names.get(a.exprId).map(al.exprId -> _)
              case _ => None
            }
            if (mapped.exists(_.isEmpty)) None
            else Some(s.copy(names = s.names ++ mapped.flatten))
          }
        case r: DataSourceV2Relation => r.table match {
          case h: GraftTableHandle if h.pinnedSnapshot.isEmpty =>
            val m = h.table.meta
            m.currentSnapshot.map(s => GraftSide(r, h.table, m, s, None, Nil,
              r.output.map(a => a.exprId -> a.name).toMap))
          case _ => None
        }
        case _ => None
      }
    }

  /** Graft relations that must NOT be swapped yet because an enclosing
    * join's (or its WHERE's) resolution is still pending — the swap
    * would erase the relation before [[pruneTree]] could see the join
    * whole. Walks only through join-tree structure (nested joins,
    * aliases, filters).
    */
  private[graft] def relationsToDefer(j: Join): Seq[DataSourceV2Relation] =
    Seq(j.left, j.right).flatMap {
      case inner: Join => relationsToDefer(inner)
      case other => graftSideOf(other).toSeq.collect {
        case s if s.anchor.isInstanceOf[DataSourceV2Relation] =>
          s.anchor.asInstanceOf[DataSourceV2Relation]
      }
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  private def andAll(es: Seq[Expression]): Expression =
    es.reduceOption(And).getOrElse(Literal.TrueLiteral)

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  /** TRUE when `e` cannot evaluate to TRUE once every attribute of
    * `side` is NULL — the EliminateOuterJoin test. An enclosing WHERE
    * runs AFTER an outer join null-extends, so its conjuncts only
    * constrain the STORED rows of a null-supplying side when they are
    * null-intolerant: `f.id IS NULL` over `dim LEFT JOIN fact` (the
    * anti-join idiom) is satisfied by exactly the manufactured rows and
    * must never prune fact files. Conservative: any failure to fold
    * means "tolerant" and the conjunct is not used for pruning.
    */
  private def nullIntolerant(e: Expression, side: AttributeSet): Boolean =
    try {
      val nulled = e.transform {
        case a: AttributeReference if side.contains(a) =>
          Literal.create(null, a.dataType)
      }
      nulled.foldable && {
        val v = nulled.eval(null)
        v == null || v == false
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  private def nullSupplyingSides(jt: JoinType): (Boolean, Boolean) =
    jt match {
      case LeftOuter  => (false, true)
      case RightOuter => (true, false)
      case FullOuter  => (true, true)
      case _          => (false, false)
    }

  /** Attempt dynamic pruning on every join in a join tree. `outer`
    * carries the enclosing WHERE's conjuncts (at analysis time the
    * selective dim predicate sits ABOVE the join — pushdown hasn't run
    * yet), attributed to sides by reference sets.
    */
  private[graft] def pruneTree(spark: SparkSession, plan: LogicalPlan,
      outer: Seq[Expression]): LogicalPlan = plan match {
    // inside an open SQL transaction every graft read is transaction-
    // local (staged preview, or the begin-time snapshot pin recorded by
    // the relation swap) — pruning here would capture LIVE committed
    // metadata for not-yet-swapped handles and evaluate build domains
    // against it, breaking snapshot isolation. Stand down whole: the
    // ordinary swap serves the transaction's view; transactions are
    // short-lived, correctness over plan quality.
    case _ if GraftSqlTransactions.active(spark) => plan
    case j: Join if j.resolved =>
      val attempted =
        if (j.getTagValue(Attempted).contains(true)) j
        else {
          j.setTagValue(Attempted, true)
          pruneJoin(spark, j, outer).getOrElse(j)
        }
      // recursing INTO the null-supplying side of an outer join: only
      // null-intolerant WHERE conjuncts survive — a nested join under
      // that side must not prune by a predicate the null-extended rows
      // the outer join manufactures would satisfy
      def childOuter(child: LogicalPlan, ns: Boolean): Seq[Expression] =
        if (!ns) outer
        else outer.filter(e => e.references.subsetOf(child.outputSet) &&
          nullIntolerant(e, child.outputSet))
      val (lNS, rNS) = nullSupplyingSides(attempted.joinType)
      val newLeft =
        pruneTree(spark, attempted.left, childOuter(attempted.left, lNS))
      val newRight =
        pruneTree(spark, attempted.right, childOuter(attempted.right, rNS))
      if ((newLeft eq attempted.left) && (newRight eq attempted.right)) attempted
      else {
        val res = attempted.copy(left = newLeft, right = newRight)
        res.setTagValue(Attempted, true)
        res
      }
    case other => other
  }

  /** The single-join attempt: pick a probe/build assignment the join
    * type and manifest estimates permit, evaluate the build domain,
    * swap the probe scan for the domain-pruned engine read.
    */
  private def pruneJoin(spark: SparkSession, j: Join,
      outer: Seq[Expression]): Option[Join] = {
    if (!KeyDomain.enabled(spark)) return None
    val cond = j.condition.getOrElse(return None)
    val (canPruneLeft, canPruneRight) = j.joinType match {
      case Inner      => (true, true)
      case LeftSemi   => (true, false)
      case LeftOuter  => (false, true)
      case RightOuter => (true, false)
      case _          => (false, false)
    }
    if (!canPruneLeft && !canPruneRight) return None
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    // bare-column equi pairs, oriented (leftAttr, rightAttr); implicit
    // casts or expressions over the key stay conservative (no pruning)
    val pairs: Seq[(AttributeReference, AttributeReference)] =
      splitConjuncts(cond).collect {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if leftOut.contains(a) && rightOut.contains(b) => (a, b)
        case EqualTo(b: AttributeReference, a: AttributeReference)
            if leftOut.contains(a) && rightOut.contains(b) => (a, b)
      }
    if (pairs.isEmpty) return None
    // conjuncts usable for a side: deterministic, subquery-free,
    // references wholly within that side — from the ON clause (always
    // sound: a row failing a single-sided ON conjunct never matches,
    // and a null-supplied output row only exists because some stored
    // row passed the ON; equi pairs reference both sides and fall out
    // of the subset check naturally) and from the enclosing WHERE,
    // which for a NULL-SUPPLYING side is only sound when the conjunct
    // is null-intolerant — WHERE runs after null-extension, so a
    // null-tolerant predicate (`f.id IS NULL`) holds on manufactured
    // rows that no stored file contains
    def usable(e: Expression): Boolean =
      e.deterministic && !hasSubquery(e) && e.references.nonEmpty
    val onUsable = splitConjuncts(cond).filter(usable)
    val whereUsable = outer.filter(usable)
    val (leftNS, rightNS) = nullSupplyingSides(j.joinType)
    def sideConj(out: AttributeSet, nullSupplying: Boolean): Seq[Expression] =
      onUsable.filter(_.references.subsetOf(out)) ++
        whereUsable.filter(e => e.references.subsetOf(out) &&
          (!nullSupplying || nullIntolerant(e, out)))

    val maxBuildRows = KeyDomain.maxBuildRows(spark)

    def estimate(s: GraftSide, conj: Seq[Expression]): Long = {
      val total = s.snap.summary.get("total-records").flatMap(_.toLongOption)
      total match {
        // unfiltered: the summary answers without touching manifests
        case Some(t) if conj.isEmpty && s.base.isEmpty => t
        case Some(t) if t <= maxBuildRows => t // already small enough
        case _ =>
          // filtered (or no summary): manifest-only candidate estimate
          s.table.candidatesFor(s.m, s.snap.files,
            andAll(s.base.toSeq ++ conj)).map(_.recordCount).sum
      }
    }

    def attempt(probePlan: LogicalPlan, buildPlan: LogicalPlan,
        probeKeys: Seq[AttributeReference], buildKeys: Seq[AttributeReference],
        probeOut: AttributeSet, buildOut: AttributeSet,
        probeNS: Boolean, buildNS: Boolean): Option[LogicalPlan] = {
      // no staged/pinned-table guard needed here: pruneTree stands
      // down WHOLE whenever a transaction is open on the session (its
      // first case), which covers every state where a table could
      // have a transaction-local view
      val probeSide = graftSideOf(probePlan)
        .filter(p => probeKeys.forall(k => p.scanColumn(k).isDefined))
      probeSide.flatMap { probe =>
        val probeConj = (probe.filters ++ sideConj(probeOut, probeNS))
          .flatMap(probe.toScanExpr)
        val probeEst = estimate(probe, Nil)
        // graft build: manifest-estimated, evaluated via a pinned
        // engine read
        val viaGraft = for {
          build <- graftSideOf(buildPlan)
          // a self-join's build domain is the probe's own domain — the
          // evaluation job would prune nothing
          if probe.table.location != build.table.location
          if buildKeys.forall(k => build.scanColumn(k).isDefined)
          // untranslatable conjuncts drop out — sound in every use
          // below (a wider build domain or a laxer estimate only
          // prunes less)
          buildConj = (build.filters ++ sideConj(buildOut, buildNS))
            .flatMap(build.toScanExpr)
          buildEst = estimate(build, buildConj)
          smallBuild = buildEst <= maxBuildRows
          // past the row gate, a build can still drive pruning when
          // its KEY DOMAIN is provably tiny (sampled admission below);
          // the ratio gate applies per-path (sampled embeds its own)
          if smallBuild || sampledDomainFits(spark, build, buildConj,
            buildKeys, probeEst, maxBuildRows)
          if !smallBuild || probeEst >= KeyDomain.Ratio * math.max(buildEst, 1L)
          swapped <- swapProbe(spark, probe, Some(build), buildPlan,
            probeKeys, buildKeys, buildConj, probeConj, probePlan)
        } yield swapped
        // plain build: any EXECUTABLE resolved subtree with no
        // unswapped graft handle — a VALUES list, an in-memory lookup
        // frame — gated on determinism and its logical size estimate
        // (products through joins inflate past the gate, which is
        // exactly right)
        def viaPlain: Option[LogicalPlan] = {
          // a STREAMING build side cannot be evaluated with a batch
          // collect (stream-static joins are legal and must analyze
          // untouched — the domain only exists per micro-batch)
          if (buildPlan.isStreaming) None
          else if (buildPlan.exists {
            case r: DataSourceV2Relation =>
              r.table.isInstanceOf[GraftTableHandle]
            case _ => false
          }) None
          else if (!KeyDomain.evaluable(graftshim.dfFromPlan(spark, buildPlan),
            KeyDomain.MaxBuildBytes)) None
          else if (!buildKeys.forall(buildPlan.outputSet.contains)) None
          // a single-file probe can't benefit — skip the job
          else if (probe.snap.summary.get("total-data-files")
            .flatMap(_.toLongOption).exists(_ <= 1L)) None
          else swapProbe(spark, probe, None, buildPlan, probeKeys,
            buildKeys, sideConj(buildOut, buildNS), probeConj, probePlan)
        }
        viaGraft.orElse(viaPlain)
      }
    }

    val prunedLeft =
      if (canPruneLeft)
        attempt(j.left, j.right, pairs.map(_._1), pairs.map(_._2),
          leftOut, rightOut, leftNS, rightNS).map(nl => j.copy(left = nl))
      else None
    prunedLeft.orElse {
      if (canPruneRight)
        attempt(j.right, j.left, pairs.map(_._2), pairs.map(_._1),
          rightOut, leftOut, rightNS, leftNS).map(nr => j.copy(right = nr))
      else None
    }.map { nj => nj.setTagValue(Attempted, true); nj }
  }

  /** SAMPLED-BUILD admission: a build side ABOVE `maxBuildRows` can
    * still drive pruning when its JOIN-KEY DOMAIN is provably tiny —
    * the 10M-row dim whose filter leaves 3 distinct join keys. One
    * cheap `approx_count_distinct` pass over the filtered build gates
    * the exact domain evaluation; the pass itself is bounded by the
    * manifest byte estimate ([[KeyDomain.MaxSampledBuildBytes]],
    * 256 MB — the same ceiling subquery evaluation uses) and by
    * requiring the probe to dwarf `maxBuildRows` (collapsing a small
    * probe cannot pay for two passes over a big build; this also keeps
    * dim-dim shapes off the sampled path). A ~5% HLL overestimate past
    * `maxKeys` is harmless: the exact distinct-limit evaluation still
    * caps and falls to the min/max range. Kill switch:
    * `spark.graft.dynamicPruning.sampledBuild` (default true).
    */
  private def sampledDomainFits(spark: SparkSession, build: GraftSide,
      buildConj: Seq[Expression], buildKeys: Seq[AttributeReference],
      probeEst: Long, maxBuildRows: Long): Boolean = {
    if (!KeyDomain.sampledBuild(spark)) return false
    if (probeEst < KeyDomain.Ratio * maxBuildRows) return false
    val bytes = build.table.candidatesFor(build.m, build.snap.files,
      andAll(build.base.toSeq ++ buildConj)).map(_.fileSizeBytes).sum
    if (bytes > KeyDomain.MaxSampledBuildBytes) return false
    try {
      // the sampling job's result is an immutable fact about a pinned
      // snapshot — cache it so repeated analyses of the same join
      // (bench loops, interactive re-runs) pay it once per JVM
      val cacheKey = build.table.location + "#" + build.snap.snapshotId +
        "#" + (build.base.toSeq ++ buildConj).map(_.toString).sorted
          .mkString("&") +
        "#" + buildKeys.map(k => build.scanColumn(k).get).mkString(",")
      if (sampledCardCache.size > 512) sampledCardCache.clear()
      val approx = sampledCardCache.computeIfAbsent(cacheKey, _ => {
        var df = build.table.readPrunedIn(build.m, build.snap,
          andAll(build.base.toSeq ++ buildConj))
        buildConj.foreach(e => df = df.filter(graftshim.columnOf(e)))
        val keyCols = buildKeys.map(k => col(s"`${build.scanColumn(k).get}`"))
        val key =
          if (keyCols.size == 1) keyCols.head
          else org.apache.spark.sql.functions.struct(keyCols: _*)
        Long.box(df.agg(
          org.apache.spark.sql.functions.approx_count_distinct(key))
          .head().getLong(0))
      })
      approx <= KeyDomain.maxKeys(spark)
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** See [[sampledDomainFits]] — keyed by (location, snapshot, filter,
    * key columns), cleared wholesale past 512 entries (a bench-length
    * working set never reaches it; correctness never depends on it).
    */
  private val sampledCardCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Evaluate the build side's key domain (one small job — against
    * the ENGINE's own read pinned to the build's captured snapshot for
    * a graft build, or the executable subtree itself for a plain one)
    * and swap the probe scan for the domain-pruned read of ITS
    * captured snapshot.
    */
  private def swapProbe(spark: SparkSession, probe: GraftSide,
      build: Option[GraftSide], buildPlan: LogicalPlan,
      probeKeys: Seq[AttributeReference],
      buildKeys: Seq[AttributeReference], buildConj: Seq[Expression],
      probeConj: Seq[Expression], probePlan: LogicalPlan): Option[LogicalPlan] = {
    val (buildDf, keyCols) = build match {
      case Some(b) =>
        // buildConj arrives scan-translated (name-based) — it
        // re-resolves against the fresh engine read
        var df = b.table.readPrunedIn(b.m, b.snap,
          andAll(b.base.toSeq ++ buildConj))
        buildConj.foreach(e => df = df.filter(graftshim.columnOf(e)))
        (df, buildKeys.map(k => col(s"`${b.scanColumn(k).get}`")))
      case None =>
        // plain build: the subtree executes as-is; outer conjuncts are
        // bound to its own attribute ids, so they apply directly
        var df = graftshim.dfFromPlan(spark, buildPlan)
        buildConj.foreach(e => df = df.filter(graftshim.columnOf(e)))
        (df, buildKeys.map(k => graftshim.columnOf(k)))
    }
    // literals take the probe key's type
    val evaluated = KeyDomain.of(buildDf.select(keyCols: _*),
      probeKeys.map(p => (UnresolvedAttribute.quoted(probe.scanColumn(p).get),
        p.dataType)))
    lastBuildKeys.set(evaluated.keys)
    val domain = evaluated.conjuncts
    // the domain is retained by NOTHING above the swapped scan (only
    // the join itself implies it) — hand it to the read as a residual
    // DATA filter so parquet skips row groups inside kept files too;
    // base/probeConj stay out (the captured read's own Filter nodes
    // and the enclosing WHERE still execute them)
    val prunedDf = probe.table.readPrunedIn(probe.m, probe.snap,
      andAll(probe.base.toSeq ++ probeConj ++ domain), residual = domain)
    pruneEvents.incrementAndGet()
    val analyzed = prunedDf.queryExecution.analyzed
    Some(probePlan.transformUp {
      case p if p eq probe.anchor => PlanRebind(p, analyzed)
    })
  }
}
