package graft.catalog

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{CreateTableAsSelect, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, ReplaceTableAsSelect, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.GraftTable
import graft.tableformat.MetadataIO

/** Native SQL for graft tables — the Catalyst-extension point
  * (SparkSessionExtensions) instead of text rewriting: with the
  * extension installed, the `graft` catalog plugin registered, and
  * `spark.graft.warehouse` set,
  *
  *   SELECT * FROM graft.db.t [VERSION AS OF n | TIMESTAMP AS OF '...']
  *   INSERT INTO / INSERT OVERWRITE graft.db.t ...
  *   DELETE FROM graft.db.t WHERE ...
  *   UPDATE graft.db.t SET ... WHERE ...
  *   CREATE / ALTER / DROP TABLE, SHOW, DESCRIBE
  *
  * all parse and resolve through Spark's own parser/analyzer (the
  * reference gets the same surface from the Iceberg Spark extensions,
  * apiv15.py:22). DDL and metadata go through
  * [[GraftNamespaceCatalog]]; scans and DML land here, where the
  * relation/DML nodes are swapped for the engine's plans and commands.
  *
  * Install via `GraftSession.builder` or
  * `spark.sql.extensions=graft.catalog.GraftExtensions` plus
  * `spark.sql.catalog.graft=graft.catalog.GraftNamespaceCatalog`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(ResolveGraftRelations)
    // view DDL must be claimed at the parser seam: Spark 4.1 has no v2
    // view exec path and its session-catalog resolution throws
    // MISSING_CATALOG_ABILITY before extension rules run (see
    // GraftViewSql)
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
  }
}

/** Resolution rule: swaps graft relations and DML statements for
  * engine plans/commands. Field-id mapping, positional deletes, CoW/MoR
  * mode selection, and snapshot selection all come from the one engine
  * code path — the DSv2 handle ([[GraftTableHandle]]) only carries
  * schema/identity for the analyzer.
  */
case class ResolveGraftRelations(spark: SparkSession) extends Rule[LogicalPlan] {

  private def warehouse: Option[String] =
    spark.conf.getOption("spark.graft.warehouse")

  private def load(db: String, tbl: String): Option[GraftTable] =
    warehouse.map(w => java.nio.file.Paths.get(w, db, tbl).toString)
      .filter(MetadataIO.exists)
      .map(loc => GraftTable.load(spark, loc))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Aggregate pushdown vs analyzer ordering: a WHERE whose type
    // coercion lands late leaves the enclosing Aggregate UNRESOLVED in
    // the very iteration the relation resolves — and the swap cases
    // below would replace the relation with a scan plan before the
    // Aggregate case ever sees a resolved tree. Relations sitting
    // under a not-yet-resolved Aggregate whose SHAPE could push (bare
    // count/min/max, no GROUP BY, at most one Filter) are DEFERRED —
    // left unswapped this iteration; the fixed point brings the
    // resolved Aggregate back to the case above, which either collapses
    // it to manifest literals or (unpushable) leaves it for the next
    // iteration's ordinary swap. Identity-keyed: two scans of the same
    // table are structurally equal but must not defer each other.
    val deferred = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if !agg.resolved &&
            agg.groupingExpressions.forall(groupish) &&
            aggSource(agg.child).isDefined &&
            (maybePushable(agg.aggregateExpressions) ||
              // materialized-view shapes (sum/avg too) defer only when
              // the source table actually registers a view
              (MviewRewrite.mviewShaped(agg.aggregateExpressions) &&
                aggSource(agg.child).exists(s =>
                  MviewRewrite.hasViews(s._1.table)))) =>
        deferred.add(relationIn(agg.child match {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.child
          case other => other
        }))
      // Join-driven file pruning needs the join (and, for the dim-side
      // WHERE conjuncts, its enclosing Filter) RESOLVED before the
      // probe relation swaps — defer every graft relation in a join
      // tree whose resolution is still pending, same fixed-point trick
      // as the Aggregate deferral above.
      case fl @ org.apache.spark.sql.catalyst.plans.logical.Filter(
          _, jn: org.apache.spark.sql.catalyst.plans.logical.Join)
          if !fl.resolved && JoinFilePruning.enabled(spark) =>
        JoinFilePruning.relationsToDefer(jn).foreach(deferred.add)
      case jn: org.apache.spark.sql.catalyst.plans.logical.Join
          if !jn.resolved && JoinFilePruning.enabled(spark) =>
        JoinFilePruning.relationsToDefer(jn).foreach(deferred.add)
      case _ => ()
    }
    plan.resolveOperators {
      // ---- SQL DML: intercept whole statements (top-down, so the
      // ---- relation below is not yet swapped for a read plan)
      case i: InsertIntoStatement if handleOf(i.table).isDefined =>
        val h = handleOf(i.table).get
        require(i.partitionSpec.isEmpty,
          "static PARTITION clauses are not supported; graft partitioning is hidden")
        GraftInsertCommand(h.table.location, i.query, i.overwrite,
          i.userSpecifiedCols)
      case c: CreateTableAsSelect if resolvedGraftIdent(c.name).isDefined =>
        ctasCommand(c.name, c.partitioning, c.query, c.tableSpec,
          replace = false, ifNotExists = c.ignoreIfExists, orCreate = false)
      case r: ReplaceTableAsSelect if resolvedGraftIdent(r.name).isDefined =>
        ctasCommand(r.name, r.partitioning, r.query, r.tableSpec,
          replace = true, ifNotExists = false, orCreate = r.orCreate)
      case DeleteFromTable(rel, cond) if handleOf(rel).isDefined =>
        GraftDeleteCommand(handleOf(rel).get.table.location, ExprHolder(cond))
      case UpdateTable(rel, assignments, cond) if handleOf(rel).isDefined =>
        val as = assignments.map(a => assignName(a.key) -> a.value)
        GraftUpdateCommand(handleOf(rel).get.table.location, as, cond.map(ExprHolder))
      case mit: MergeIntoTable if handleOf(mit.targetTable).isDefined =>
        mergeCommand(mit)
      // DataFrameWriterV2: df.writeTo("graft.db.t").append()/.overwrite()
      case a: org.apache.spark.sql.catalyst.plans.logical.AppendData
          if handleOf(a.table).isDefined =>
        val cols =
          if (a.isByName) a.query.output.map(_.name) else Seq.empty[String]
        GraftInsertCommand(handleOf(a.table).get.table.location, a.query,
          overwrite = false, cols)
      case o: org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
          if handleOf(o.table).isDefined =>
        require(o.deleteExpr == Literal(true) || o.deleteExpr.foldable &&
          o.deleteExpr.eval(null) == true,
          "partial writeTo().overwrite(cond) is not supported; " +
            "use DELETE + append or overwrite(lit(true))")
        val cols =
          if (o.isByName) o.query.output.map(_.name) else Seq.empty[String]
        GraftInsertCommand(handleOf(o.table).get.table.location, o.query,
          overwrite = true, cols)

      // TRUNCATE resolves its target as ResolvedTable, not a relation
      case tr: org.apache.spark.sql.catalyst.plans.logical.TruncateTable
          if resolvedHandleOf(tr.table).isDefined =>
        GraftTruncateCommand(resolvedHandleOf(tr.table).get.table.location)

      // ---- SQL aggregate pushdown: a bare no-GROUP-BY Aggregate of
      // ---- count(*)/count(col)/min(col)/max(col) over an unfiltered
      // ---- graft relation answers from MANIFEST ARITHMETIC — the
      // ---- whole query collapses to literals over OneRowRelation,
      // ---- zero file scans and zero Spark jobs (Iceberg wires the
      // ---- same shortcut through SparkScanBuilder.pushAggregation).
      // ---- Soundness gates live in the engine's countRows/
      // ---- countNonNull/columnBounds rules (MoR deletes, missing
      // ---- per-file stats, unordered types): ANY non-pushable piece
      // ---- leaves the plan untouched, so the relation below swaps
      // ---- for the ordinary exact scan. Matched at the Aggregate
      // ---- node, i.e. before the top-down traversal reaches and
      // ---- swaps the relation.
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if agg.resolved && agg.groupingExpressions.isEmpty &&
            aggSource(agg.child).isDefined =>
        val (h, cond) = aggSource(agg.child).get
        // inside an open transaction every graft read is transaction-
        // local (staged preview, or the begin-time snapshot pin) —
        // manifest arithmetic / mview would answer from LIVE committed
        // metadata, so bail to the scan path, which serves the
        // transaction's view through the relation swap
        if (GraftSqlTransactions.active(spark)) agg
        else pushManifestAggregate(agg, h, cond)
          .orElse(MviewRewrite.rewrite(spark, agg, h, cond))
          .getOrElse(agg)

      // ---- grouped flavor: GROUP BY an identity-partitioned column.
      // ---- Identity partitioning means every file belongs to exactly
      // ---- one group (the recorded partition value), so per-group
      // ---- count/min/max are per-group-of-files manifest arithmetic:
      // ---- the per-day rollup a 100 TB day-partitioned table serves
      // ---- daily, answered without opening a file. A WHERE composes
      // ---- under the same strict gate as the groupless flavor.
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if agg.resolved && agg.groupingExpressions.nonEmpty &&
            agg.groupingExpressions.forall(groupish) &&
            aggSource(agg.child).isDefined =>
        val (h, cond) = aggSource(agg.child).get
        if (GraftSqlTransactions.active(spark)) agg
        else pushGroupedManifestAggregate(agg, h, cond)
          .orElse(MviewRewrite.rewrite(spark, agg, h, cond))
          .getOrElse(agg)

      // ---- join-driven dynamic file pruning: a resolved join whose
      // ---- enclosing WHERE carries the selective dim predicate (at
      // ---- analysis time the Filter still sits ABOVE the join). The
      // ---- build side's key domain is evaluated from its own engine
      // ---- read and pruned into the probe's file planning; the Filter
      // ---- and the join stay — only the probe relation swaps for the
      // ---- domain-pruned read. (Top-down: this must see the Filter/
      // ---- Join before the relation cases below swap the children.)
      case fl @ org.apache.spark.sql.catalyst.plans.logical.Filter(
          cond, jn: org.apache.spark.sql.catalyst.plans.logical.Join)
          if fl.resolved && JoinFilePruning.enabled(spark) =>
        val nj = JoinFilePruning.pruneTree(spark, jn, splitAnd(cond))
        if (nj eq jn) fl else fl.copy(child = nj)
      case jn: org.apache.spark.sql.catalyst.plans.logical.Join
          if jn.resolved && JoinFilePruning.enabled(spark) =>
        JoinFilePruning.pruneTree(spark, jn, Nil)

      // ---- filtered scans: the WHERE condition reaches the engine,
      // ---- which prunes candidate files metadata-only (partition
      // ---- transforms + manifest bounds) BEFORE the scan plan is
      // ---- built, on the current or the VERSION AS OF snapshot alike.
      // ---- Spark's Filter node stays above — pruning only
      // ---- shrinks the file list, the predicate still executes.
      // ---- (Top-down traversal: this case must see the Filter before
      // ---- the bare-relation case below swaps its child.)
      case fl @ org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child)
          if handleOf(child).isDefined &&
            !deferred.contains(relationIn(child)) =>
        val h = handleOf(child).get
        // transaction view: a staged table reads its PREVIEW
        // (read-your-own-writes); an untouched one PINS to its
        // committed snapshot at first touch (snapshot isolation); an
        // explicit time-travel pin overrides both, as in the scan case
        val read = h.pinnedSnapshot match {
          case Some(s) => h.table.readPrunedIn(h.table.meta, s, cond)
          case None => txnView(h) match {
            case Some(pm) => h.table.readPreviewPrunedBy(pm, cond)
            case None     => h.table.readPrunedBy(cond)
          }
        }
        val swapped = rebind(relationIn(child), read.queryExecution.analyzed)
        val newChild = child match {
          case s: SubqueryAlias => s.copy(child = swapped)
          case _                => swapped
        }
        fl.copy(child = newChild)

      // ---- scans: swap the capability-less handle for the engine read
      case r: DataSourceV2Relation
          if handleOf(r).isDefined && !deferred.contains(r) =>
        val h = handleOf(r).get
        val df = h.pinnedSnapshot match {
          case Some(s) => h.table.readAsOfVersion(s.snapshotId)
          case None => txnView(h) match {
            case Some(pm) => h.table.readPreview(pm)
            case None     => h.table.read()
          }
        }
        rebind(r, df.queryExecution.analyzed)

      // ---- metadata tables: graft.db.t.history etc. (suffix handles
      // served by the catalog) — swap for the prepared metadata plan
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftMetadataTableHandle] =>
        rebind(r,
          r.table.asInstanceOf[GraftMetadataTableHandle].df
            .queryExecution.analyzed)

      // ---- view metadata: graft.db.v.versions — the view's version
      // ---- history as a relation (the audit surface t.history serves
      // ---- for tables), one row per recorded definition
      case u: UnresolvedRelation
          if u.multipartIdentifier.length >= 2 &&
            u.multipartIdentifier.last.equalsIgnoreCase("versions") &&
            GraftViewSql.viewParts(spark, u.multipartIdentifier.init)
              .isDefined =>
        val (db, v) =
          GraftViewSql.viewParts(spark, u.multipartIdentifier.init).get
        GraftViewSql.versionsDf(spark, db, v).queryExecution.analyzed

      // ---- stored views: DML against a view is a hard error (before
      // ---- the expansion below could turn the target into a subquery
      // ---- and produce an opaque analyzer failure)
      case i: InsertIntoStatement if viewTargetOf(i.table).isDefined =>
        sys.error(s"cannot INSERT into view ${viewName(i.table)}")
      case DeleteFromTable(rel, _) if viewTargetOf(rel).isDefined =>
        sys.error(s"cannot DELETE from view ${viewName(rel)}")
      case UpdateTable(rel, _, _) if viewTargetOf(rel).isDefined =>
        sys.error(s"cannot UPDATE view ${viewName(rel)}")
      case mit: MergeIntoTable if viewTargetOf(mit.targetTable).isDefined =>
        sys.error(s"cannot MERGE into view ${viewName(mit.targetTable)}")

      // ---- stored views: expand the recorded SQL late-binding.
      // ---- VERSION/TIMESTAMP AS OF on a view name pins the
      // ---- DEFINITION version (Iceberg view versioning), data stays
      // ---- current. Must precede the table fallbacks: a 3-part view
      // ---- ident matches isGraft but withTable finds no table, and
      // ---- first-match-wins would leave the relation unresolved.
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver)
          if GraftViewSql.viewParts(spark, u.multipartIdentifier).isDefined =>
        val (db, v) = GraftViewSql.viewParts(spark, u.multipartIdentifier).get
        resolveExpansion(GraftViewSql.expand(spark, db, v,
          ver.map(x => x.toIntOption.getOrElse(sys.error(
            s"view $db.$v: VERSION AS OF takes an integer definition " +
              s"version id, got '$x'"))), ts.map(evalTsMillis)))
      case u: UnresolvedRelation
          if GraftViewSql.viewParts(spark, u.multipartIdentifier).isDefined =>
        val (db, v) = GraftViewSql.viewParts(spark, u.multipartIdentifier).get
        resolveExpansion(GraftViewSql.expand(spark, db, v, None, None))

      // ---- fallbacks: extension installed without the catalog plugin.
      // Preview-aware (read-your-own-writes) like the catalog path.
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) if isGraft(u) =>
        withTable(u) { t =>
          (ts, ver) match {
            // VERSION AS OF takes a snapshot id OR a branch/tag name on
            // every surface — the catalog path resolves refs, so this
            // fallback must too (a bare NumberFormatException for
            // 'audit-tag' would make the two surfaces diverge)
            case (_, Some(v)) => v.toLongOption match {
              case Some(id) => t.readAsOfVersion(id)
              case None     => t.readRef(v)
            }
            case (Some(e), _) => t.readAsOfTime(evalTsMillis(e))
            case _            => t.read()
          }
        }.getOrElse(tt) // leave unresolved; Spark reports the error
      case u: UnresolvedRelation if isGraft(u) =>
        withTable(u) { t =>
          GraftSqlTransactions.readView(spark, t.location, t.meta) match {
            case Some(pm) => t.readPreview(pm)
            case None     => t.read()
          }
        }.getOrElse(u)
    }
  }

  /** The manifest-only rewrite behind the aggregate-pushdown case: every
    * aggregate expression must be an aliased, unfiltered, non-DISTINCT
    * count(*) / count(col) / min(col) / max(col) whose value the ONE
    * metadata read can prove (all-or-nothing — one unprovable column
    * and the whole Aggregate stays for the scan path). Output
    * attributes keep their exprIds, so parents re-resolve untouched.
    */
  /** Shape-only pushability test for the deferral pre-scan: every
    * aggregate expression is an (optionally unresolved) alias over a
    * non-DISTINCT, unfiltered count/min/max of a literal, star, or
    * bare column. No values are computed here — this only decides
    * whether the relation swap should wait one iteration for the
    * Aggregate to resolve.
    */
  private def maybePushable(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction => UFn}
    def okArg(e: Expression): Boolean = e match {
      case _: Literal | _: UnresolvedStar | _: UnresolvedAttribute |
          _: AttributeReference => true
      case _ => false
    }
    exprs.forall { ne =>
      val body = ne match {
        case Alias(c, _)         => c
        case ua: UnresolvedAlias => ua.child
        case other               => other
      }
      body match {
        case UFn(Seq(fn), args, false, None, _, _, _)
            if Set("count", "min", "max")(fn.toLowerCase) =>
          args.sizeIs == 1 && okArg(args.head)
        case AggregateExpression(fnn, _, false, None, _) => fnn match {
          case Count(Seq(a)) => okArg(a)
          case Min(a)        => okArg(a)
          case Max(a)        => okArg(a)
          case _             => false
        }
        // the grouped flavor projects the group column through
        case e if groupish(e) => true
        case _ => false
      }
    }
  }

  /** The open transaction's view of a handle's table: the staged
    * preview (read-your-own-writes) or the begin-time snapshot pin
    * (recorded here on first touch — snapshot isolation for reads of
    * untouched tables).
    */
  private def txnView(h: GraftTableHandle) =
    GraftSqlTransactions.readView(spark, h.table.location, h.table.meta)

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** A bare (possibly unresolved) column reference. */
  private def attrish(e: Expression): Boolean = e match {
    case _: UnresolvedAttribute | _: AttributeReference => true
    case _                                              => false
  }

  /** A grouping shape the grouped pushdown can try to map file-wise to
    * one partition cell: a bare column or a daily rollup of one
    * (to_date(c) / CAST(c AS DATE)). Deliberately permissive on
    * unresolved forms — the pushdown itself validates against the
    * table's actual partition spec, and a false positive only defers
    * the relation swap one resolution iteration.
    */
  private def groupish(e: Expression): Boolean = groupishN(e, 0)

  // replacement chains unwind under a depth bound (defensive: a
  // wrapper handing back fresh wrappers must not loop the analyzer)
  private def groupishN(e: Expression, depth: Int): Boolean =
    depth < 4 && (e match {
      case e if attrish(e) => true
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        attrish(c.child)
      case org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          Seq(fn), Seq(a), false, None, _, _, _)
          if fn.toLowerCase == "to_date" => attrish(a)
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
          if r.resolved =>
        groupishN(r.replacement, depth + 1)
      case _ => false
    })

  /** The Aggregate's source: a bare graft relation, or one under a
    * single WHERE whose condition rides along for strict file-wise
    * evaluation.
    */
  private def aggSource(p: LogicalPlan): Option[(GraftTableHandle, Option[Expression])] =
    p match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        handleOf(f.child).map(h => (h, Some(f.condition)))
      case other => handleOf(other).map(h => (h, None))
    }

  private def pushManifestAggregate(
      agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate,
      h: GraftTableHandle, cond: Option[Expression]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.LongType
    val t = h.table
    val m = t.meta
    // VERSION/TIMESTAMP AS OF: the audit count answers from THAT
    // snapshot's manifest — but only while the pinned snapshot shares
    // the current schema (field-id-keyed stats are read against the
    // current schema's ids; a drifted schema falls to the scan)
    val snap = h.pinnedSnapshot.orElse(m.currentSnapshot)
    if (h.pinnedSnapshot.exists(_.schemaId != m.currentSchemaId)) return None
    val files0 = snap.map(_.files).getOrElse(Vector.empty)
    // WHERE: inclusive pruning drops the files wholly outside the
    // predicate; the survivors must ALL be wholly inside (strict
    // evaluation) or the aggregate needs rows read — bail to the scan.
    // A boundary-file partial count is deliberately NOT computed here:
    // resolution rules must not run Spark jobs (GraftTable.countWhere
    // is the API that pays the boundary scan).
    val files = cond match {
      case None => files0
      case Some(e) =>
        val cand = t.candidatesFor(m, files0, e)
        if (cand.forall(f => graft.engine.StatsPruning.allMatch(m, f, e)))
          cand
        else return None
    }
    // MoR deletes reaching the answering files make every manifest
    // count/bound unsound (repeated positional pointers, uncounted
    // equality keys) — scan instead
    if (snap.exists(t.deletesReaching(_, files).nonEmpty)) return None
    val nRows = files.map(_.recordCount).sum
    def boundLit(a: AttributeReference, lower: Boolean): Option[Literal] =
      for {
        (lo, hi) <- t.columnBoundsIn(m, files, a.name)
        v <- graft.engine.StatsPruning.internalBound(a.dataType,
          if (lower) lo else hi)
      } yield Literal(v, a.dataType)
    val pushed = agg.aggregateExpressions.map {
      case al @ Alias(AggregateExpression(fn, _, false, None, _), _) =>
        val lit = fn match {
          case Count(Seq(l: Literal)) if l.value != null =>
            Some(Literal(nRows, LongType))
          case Count(Seq(a: AttributeReference)) =>
            t.countNonNullIn(m, files, a.name).map(Literal(_, LongType))
          case Min(a: AttributeReference) => boundLit(a, lower = true)
          case Max(a: AttributeReference) => boundLit(a, lower = false)
          case _                          => None
        }
        lit.map(v =>
          Alias(v, al.name)(exprId = al.exprId, qualifier = al.qualifier))
      case _ => None
    }
    if (pushed.forall(_.isDefined)) {
      // a LocalRelation, not Project-over-OneRowRelation: the latter
      // plans as a 1-partition RDD scan (one Spark job on collect);
      // this one is LocalTableScanExec — driver-local, ZERO jobs
      val aliases = pushed.map(_.get)
      Some(LocalRelation(aliases.map(_.toAttribute),
        Seq(InternalRow.fromSeq(aliases.map(_.child.asInstanceOf[Literal].value)))))
    } else None
  }

  /** The grouped pushdown: GROUP BY one or more columns, each
    * IDENTITY-partitioned in the current spec. Identity assigns every
    * file to exactly one group cell — its recorded partition value
    * tuple — so per-group count/count(col)/min/max are the groupless
    * manifest arithmetic over each cell's file slice: the per-(region,
    * day) rollup on a so-partitioned 100 TB table without opening a
    * file. Bails (None → ordinary scan) whenever assignment isn't
    * sound: live delete files, an older-spec file missing a value, a type
    * whose identity rendering doesn't round-trip exactly
    * (timestamp/float/double), or a string value colliding with the
    * NULL-directory sentinel (a NULL group is otherwise supported —
    * its directory name is unambiguous for non-string types).
    */
  private def pushGroupedManifestAggregate(
      agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate,
      h: GraftTableHandle, cond: Option[Expression]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType}
    import graft.tableformat.DataFileEntry
    val t = h.table
    val m = t.meta
    val snap = h.pinnedSnapshot.orElse(m.currentSnapshot)
    if (h.pinnedSnapshot.exists(_.schemaId != m.currentSchemaId)) return None
    val files0 = snap.map(_.files).getOrElse(Vector.empty)
    // WHERE: same all-or-nothing strict gate as the groupless flavor —
    // surviving files must be wholly inside the predicate, so each
    // still belongs wholly to its partition-value cell
    val files = cond match {
      case None => files0
      case Some(e) =>
        val cand = t.candidatesFor(m, files0, e)
        if (cand.forall(f => graft.engine.StatsPruning.allMatch(m, f, e)))
          cand
        else return None
    }
    if (snap.exists(t.deletesReaching(_, files).nonEmpty)) return None
    val NullDir = "__HIVE_DEFAULT_PARTITION__"
    def keyOf(dt: DataType, v: String): Option[Any] =
      if (v == NullDir) {
        // a real string could equal the sentinel — ambiguous there;
        // for other types the NULL group is unambiguous
        if (dt == StringType) None else Some(null)
      } else dt match {
        case IntegerType => v.toIntOption
        case LongType    => v.toLongOption
        case StringType  => Some(UTF8String.fromString(v))
        case DateType =>
          try Some(java.time.LocalDate.parse(v).toEpochDay.toInt)
          catch { case _: Exception => None }
        case _ => None
      }
    // a recorded "yyyy-MM-dd" day cell as the DateType group key value
    def dayCellKey(v: String): Option[Any] =
      if (v == NullDir) Some(null)
      else try Some(java.time.LocalDate.parse(v).toEpochDay.toInt)
      catch { case _: Exception => None }
    // every grouping expression must assign each file to exactly ONE
    // recorded cell: a bare IDENTITY-partitioned column (multi-column
    // keys compose — a (region, day) layout assigns each file one
    // (region, day) cell), or the canonical DAILY ROLLUP over a
    // day()-partitioned source — GROUP BY to_date(ts) / CAST(ts AS
    // DATE) groups exactly by the recorded day cell (the rollup and
    // the write-side date_format both render in the session timezone,
    // the same equivalence PartitionPruning's literal mapping relies
    // on), and a bare DATE column under day(d) is its own cell.
    def dayPartitionOf(a: AttributeReference): Option[String] =
      m.currentSchema.fieldByName(a.name).flatMap(field =>
        m.currentSpec.fields.find(p =>
          p.transform == "day" && p.sourceId == field.id).map(_.name))
    def groupKeyOf(g: Expression): Option[(String, String => Option[Any])] =
      g match {
        case a: AttributeReference =>
          m.currentSchema.fieldByName(a.name).flatMap { field =>
            m.currentSpec.fields.find(p =>
              p.transform == "identity" && p.sourceId == field.id) match {
              case Some(pf) =>
                Some(pf.name -> ((v: String) => keyOf(a.dataType, v)))
              case None if a.dataType == org.apache.spark.sql.types.DateType =>
                dayPartitionOf(a).map(pn => pn -> (dayCellKey _))
              case None => None
            }
          }
        case org.apache.spark.sql.catalyst.expressions.Cast(
            a: AttributeReference, dt, _, _)
            if dt == org.apache.spark.sql.types.DateType &&
              a.dataType == org.apache.spark.sql.types.TimestampType =>
          // TZ timestamps only: an NTZ wall clock inside a DST gap can
          // render into a different recorded day than its pure
          // truncation — refuse rather than risk a shifted group
          dayPartitionOf(a).map(pn => pn -> (dayCellKey _))
        case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
          groupKeyOf(r.replacement)
        case _ => None
      }
    val gKeys: Seq[(String, String => Option[Any])] =
      agg.groupingExpressions.map(g => groupKeyOf(g).getOrElse(return None))
    if (!files.forall(f => gKeys.forall(k =>
      f.partitionValues.contains(k._1)))) return None
    val keyed: Vector[Option[(Vector[Any], DataFileEntry)]] = files.map { f =>
      val ks = gKeys.map { case (pn, key) => key(f.partitionValues(pn)) }
      if (ks.exists(_.isEmpty)) None
      else Some(ks.map(_.get).toVector -> f)
    }
    if (keyed.exists(_.isEmpty)) return None
    val groups = keyed.flatten.groupBy(_._1).view
      .mapValues(_.map(_._2)).toSeq
      // HashMap order is seed-dependent; keep the emitted relation
      // deterministic (GROUP BY itself is unordered, this is hygiene)
      .sortBy(g => g._1.map(String.valueOf).mkString("\u0000"))
    def boundIn(gf: Vector[DataFileEntry], a: AttributeReference,
        lower: Boolean): Option[Any] =
      for {
        (lo, hi) <- t.columnBoundsIn(m, gf, a.name)
        v <- graft.engine.StatsPruning.internalBound(a.dataType,
          if (lower) lo else hi)
      } yield v
    type Evl = (Vector[Any], Vector[DataFileEntry]) => Option[Any]
    // group-key projections match SEMANTICALLY (a SELECT to_date(ts)
    // is the same tree as its GROUP BY to_date(ts), not a shared
    // attribute)
    def keyIdxOf(e: Expression): Option[Int] =
      agg.groupingExpressions.zipWithIndex.collectFirst {
        case (g, i) if e.semanticEquals(g) => i
      }
    val planned: Seq[Option[(Attribute, Evl)]] =
      agg.aggregateExpressions.map {
        case a: AttributeReference if keyIdxOf(a).isDefined =>
          val i = keyIdxOf(a).get
          Some((a: Attribute, ((k, _) => Some(k(i))): Evl))
        case al @ Alias(child, _) if keyIdxOf(child).isDefined =>
          val i = keyIdxOf(child).get
          Some((al.toAttribute, ((k, _) => Some(k(i))): Evl))
        case al @ Alias(AggregateExpression(fn, _, false, None, _), _) =>
          val ev: Option[Evl] = fn match {
            case Count(Seq(l: Literal)) if l.value != null =>
              Some((_, gf) => Some(gf.map(_.recordCount).sum))
            case Count(Seq(a: AttributeReference)) =>
              Some((_, gf) => t.countNonNullIn(m, gf, a.name))
            case Min(a: AttributeReference) =>
              Some((_, gf) => boundIn(gf, a, lower = true))
            case Max(a: AttributeReference) =>
              Some((_, gf) => boundIn(gf, a, lower = false))
            case _ => None
          }
          ev.map(e => (al.toAttribute, e))
        case _ => None
      }
    if (planned.exists(_.isEmpty)) return None
    val cols = planned.map(_.get)
    val rowVals = groups.map { case (k, gf) => cols.map(_._2(k, gf)) }
    if (rowVals.exists(_.exists(_.isEmpty))) return None
    Some(LocalRelation(cols.map(_._1),
      rowVals.map(vs => InternalRow.fromSeq(vs.map(_.get)))))
  }

  private def rebind(r: DataSourceV2Relation,
      newPlan: LogicalPlan): LogicalPlan = PlanRebind(r, newPlan)

  private def resolvedGraftIdent(name: LogicalPlan): Option[(String, String)] =
    name match {
      case org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
          _: GraftNamespaceCatalog, ident) if ident.namespace().length == 1 =>
        Some(ident.namespace()(0) -> ident.name())
      case _ => None
    }

  private def ctasCommand(name: LogicalPlan,
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      query: LogicalPlan,
      tableSpec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase,
      replace: Boolean, ifNotExists: Boolean, orCreate: Boolean): LogicalPlan = {
    val (db, tbl) = resolvedGraftIdent(name).get
    val w = warehouse.getOrElse(sys.error("spark.graft.warehouse not set"))
    val loc = java.nio.file.Paths.get(w, db, tbl).toString
    val partition =
      partitioning.map(graft.engine.PartitionTransforms.fromV2)
    val props = tableSpec match {
      case ts: org.apache.spark.sql.catalyst.plans.logical.TableSpec =>
        ts.properties
      case _ => Map.empty[String, String]
    }
    GraftCtasCommand(loc, s"$db.$tbl", query, partition, props, replace,
      ifNotExists, orCreate)
  }

  /** MERGE INTO: capture the statement whole. Target-side attribute
    * references are remapped to alias-qualified UnresolvedAttributes so
    * they re-resolve against the engine's fresh tagged read; source
    * references stay bound to the captured source plan (its exprIds
    * survive the command's re-analysis verbatim). Clause order is
    * preserved — the engine applies first-TRUE-condition-wins.
    */
  private def mergeCommand(mit: MergeIntoTable): LogicalPlan = {
    require(!mit.withSchemaEvolution,
      "MERGE ... WITH SCHEMA EVOLUTION is not supported on graft tables")
    val h = handleOf(mit.targetTable).get
    val alias = mit.targetTable match {
      case SubqueryAlias(id, _) => id.name
      case _                    => h.tableName.split('.').last
    }
    val tgtIds = mit.targetTable.output.map(_.exprId).toSet
    def remap(e: Expression): Expression = e.transform {
      case a: AttributeReference if tgtIds.contains(a.exprId) =>
        UnresolvedAttribute(Seq(alias, a.name))
    }
    // assignment keys are target columns: accept `x` and `alias.x`;
    // anything deeper would be a nested write (unsupported, like UPDATE)
    def keyName(e: Expression): String = e match {
      case a: AttributeReference => a.name
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(one)                                  => one
        case Seq(q, one) if q.equalsIgnoreCase(alias)  => one
        case parts => sys.error(
          s"unsupported MERGE assignment target ${parts.mkString(".")}")
      }
      case other => sys.error(s"unsupported MERGE assignment target $other")
    }
    def conv(a: MergeAction): MergeActionSpec = a match {
      case UpdateAction(c, as, _) =>
        MergeUpdateSpec(c.map(remap), as.map(x => keyName(x.key) -> remap(x.value)))
      case UpdateStarAction(c) => MergeUpdateAllSpec(c.map(remap))
      case DeleteAction(c)     => MergeDeleteSpec(c.map(remap))
      case InsertAction(c, as) =>
        MergeInsertSpec(c.map(remap), as.map(x => keyName(x.key) -> remap(x.value)))
      case InsertStarAction(c) => MergeInsertAllSpec(c.map(remap))
      case other => sys.error(s"unsupported MERGE action $other")
    }
    GraftMergeCommand(h.table.location, alias, mit.sourceTable,
      ExprHolder(remap(mit.mergeCondition)), mit.matchedActions.map(conv),
      mit.notMatchedActions.map(conv), mit.notMatchedBySourceActions.map(conv))
  }

  private def resolvedHandleOf(plan: LogicalPlan): Option[GraftTableHandle] =
    plan match {
      case r: org.apache.spark.sql.catalyst.analysis.ResolvedTable =>
        r.table match {
          case h: GraftTableHandle => Some(h)
          case _                   => None
        }
      case _ => None
    }

  private def handleOf(plan: LogicalPlan): Option[GraftTableHandle] =
    plan match {
      case s: SubqueryAlias => handleOf(s.child) // DML wraps the relation
      case r: DataSourceV2Relation =>
        r.table match {
          case h: GraftTableHandle => Some(h)
          case _                   => None
        }
      case _ => None
    }

  /** The DSv2 relation node under optional SubqueryAlias wrapping —
    * callers have already checked handleOf(plan).isDefined.
    */
  private def relationIn(plan: LogicalPlan): DataSourceV2Relation =
    plan match {
      case s: SubqueryAlias           => relationIn(s.child)
      case r: DataSourceV2Relation    => r
      case other => sys.error(s"no graft relation under $other")
    }

  private def assignName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute if u.nameParts.length == 1 => u.nameParts.head
    case u: UnresolvedAttribute =>
      // flattening `SET s.x = …` to `x` would silently overwrite an
      // unrelated top-level column whenever one shares the leaf name
      sys.error(s"nested UPDATE targets are unsupported: ${u.nameParts.mkString(".")}")
    case other => sys.error(s"unsupported UPDATE target $other")
  }

  /** DML-target guard: the (possibly aliased) relation names a stored
    * view.
    */
  private def viewTargetOf(p: LogicalPlan): Option[(String, String)] = p match {
    case s: SubqueryAlias => viewTargetOf(s.child)
    case u: UnresolvedRelation =>
      GraftViewSql.viewParts(spark, u.multipartIdentifier)
    case _ => None
  }

  private def viewName(p: LogicalPlan): String =
    viewTargetOf(p).map { case (db, v) => s"$db.$v" }.getOrElse("?")

  private def isGraft(u: UnresolvedRelation): Boolean =
    u.multipartIdentifier.length == 3 &&
      u.multipartIdentifier.head.equalsIgnoreCase("graft")

  /** Pre-resolve a view expansion's graft TABLE relations to DSv2
    * handles: the rule recurses into the expansion subtree within this
    * SAME apply (top-down), so a fresh UnresolvedRelation would hit
    * the bare fallback — a committed-state `read()` that bypasses
    * read-your-own-writes, the filtered-scan file pruning, and every
    * deferral — before Spark's own catalog resolution sees it.
    * Resolving here puts view bodies on exactly the path a top-level
    * query takes. Unresolvable names stay unresolved for Spark's own
    * error reporting; nested views were already expanded inline.
    */
  private def resolveExpansion(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case u: UnresolvedRelation if isGraft(u) =>
        val Seq(_, db, tbl) = u.multipartIdentifier
        try {
          val cat = spark.sessionState.catalogManager.catalog("graft")
            .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
          val ident = org.apache.spark.sql.connector.catalog.Identifier
            .of(Array(db), tbl)
          SubqueryAlias(Seq("graft", db, tbl),
            DataSourceV2Relation.create(cat.loadTable(ident), Some(cat),
              Some(ident)))
        } catch { case scala.util.control.NonFatal(_) => u }
    }

  private def withTable(u: UnresolvedRelation)(
      f: GraftTable => org.apache.spark.sql.DataFrame): Option[LogicalPlan] = {
    val Seq(_, db, tbl) = u.multipartIdentifier
    load(db, tbl).map(t => f(t).queryExecution.analyzed)
  }

  /** TIMESTAMP AS OF operand: a timestamp literal (micros) or a UTC
    * date/timestamp string.
    */
  private def evalTsMillis(e: Expression): Long = e match {
    case Literal(v: Long, TimestampType) => v / 1000L
    case Literal(s: UTF8String, StringType) => parseUtc(s.toString)
    case other if other.foldable =>
      other.eval(null) match {
        case v: Long       => v / 1000L
        case s: UTF8String => parseUtc(s.toString)
        case v => sys.error(s"cannot interpret time-travel timestamp $v")
      }
    case other => sys.error(s"non-constant time-travel timestamp $other")
  }

  private def parseUtc(s: String): Long =
    GraftSqlTransactions.parseTsUtc(s)
}

/** Parents are already bound to the relation's attribute ids: alias
  * the fresh read's output back onto them — exact name first, then
  * case-insensitive (unquoted SQL idents fold; rename can create
  * columns differing only in case, which must not collide). Shared by
  * the relation-swap cases and [[JoinFilePruning]]'s probe swap.
  */
private[catalog] object PlanRebind {
  def apply(old: LogicalPlan, newPlan: LogicalPlan): LogicalPlan = {
    val exact = newPlan.output.map(a => a.name -> a).toMap
    val ci = newPlan.output.map(a => a.name.toLowerCase -> a).toMap
    val aliases = old.output.map { o =>
      val n = exact.getOrElse(o.name, ci.getOrElse(o.name.toLowerCase,
        sys.error(s"column ${o.name} missing from graft read of ${old.nodeName}")))
      org.apache.spark.sql.catalyst.expressions.Alias(n, o.name)(
        exprId = o.exprId, qualifier = o.qualifier)
    }
    org.apache.spark.sql.catalyst.plans.logical.Project(aliases, newPlan)
  }
}
