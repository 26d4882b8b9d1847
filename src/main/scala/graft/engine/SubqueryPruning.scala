package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim

/** SUBQUERY-DOMAIN file pruning: predicates whose selective half lives
  * in a SUBQUERY prune nothing statically — the two shapes that matter
  * at 100 TB are the dedup sweep
  * (`DELETE FROM corpus WHERE id IN (SELECT id FROM dup_ids)`) and the
  * latest-watermark read (`WHERE ts = (SELECT max(ts) FROM ...)`),
  * both of which would otherwise plan every file of a keyed fact. When
  * a top-level conjunct is `attr IN (uncorrelated small subquery)` or
  * `attr <cmp> (uncorrelated small scalar subquery)`, the subquery is
  * evaluated ONCE with a small job and the resulting literal domain
  * ([[KeyDomain.of]]: IN-set up to `maxKeys`, min/max range past it;
  * the evaluated literal for scalars) is ANDed into the
  * pruning expression — the ORIGINAL predicate still executes, so
  * correctness never depends on this (inclusive pruning only drops
  * files that provably hold no qualifying row).
  *
  * Sound by construction:
  *   - a row satisfies `a IN (q)` only by EQUALLING a non-null value
  *     of q, so pruning by q's non-null value set (or its closed
  *     range) can only drop rows the filter would drop;
  *   - an empty or all-NULL subquery makes the conjunct unsatisfiable
  *     (`x IN ()` / `x = NULL` is never TRUE) — every file prunes,
  *     which is exactly the filter's result;
  *   - NOT IN / correlated / nondeterministic / large subqueries are
  *     left untouched (refuse rather than risk: a nondeterministic
  *     domain could differ between this evaluation and the filter's
  *     own, and a large one would cost more to evaluate than it
  *     saves — [[KeyDomain.MaxSubqueryBytes]], 256 MB);
  *   - ANY evaluation failure falls back to no augmentation (pruning
  *     is an optimization; it must never introduce a new failure mode
  *     into DML or reads).
  */
private[graft] object SubqueryPruning {

  /** The condition with evaluated subquery domains ANDed in — for
    * PRUNING ONLY; callers keep executing the original predicate — and
    * the evaluated extra conjuncts on their own: the read path
    * re-applies exactly those as residual DATA filters on the kept
    * files' scans (the original predicate's conjuncts are already
    * retained by the caller — re-applying them would only double
    * row-level evaluation).
    */
  def augmentSplit(spark: SparkSession,
      cond: Expression): (Expression, Seq[Expression]) = {
    val extra =
      try conjunctsFor(spark, cond)
      catch { case scala.util.control.NonFatal(_) => Nil }
    (extra.foldLeft(cond)(And(_, _)), extra)
  }

  // top-level conjuncts only: a subquery under OR/NOT has no sound
  // per-conjunct pruning form. Column-DSL conditions arrive
  // pre-analysis with 'and' as an UnresolvedFunction.
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case UnresolvedFunction(Seq(fn), Seq(l, r), false, _, _, _, _)
        if fn.equalsIgnoreCase("and") => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def attrish(e: Expression): Boolean = e match {
    case _: AttributeReference | _: UnresolvedAttribute => true
    case _                                              => false
  }

  private def conjunctsFor(spark: SparkSession,
      cond: Expression): Seq[Expression] = {
    if (!KeyDomain.enabled(spark)) return Nil
    // fast bail: no subqueries anywhere
    if (!cond.exists(_.isInstanceOf[SubqueryExpression])) return Nil
    conjuncts(cond).flatMap {
      case InSubquery(Seq(a), l: ListQuery)
          if attrish(a) && l.outerAttrs.isEmpty =>
        tryEval(inDomain(spark, a, l))
      case EqualTo(a, s: ScalarSubquery)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, EqualTo))
      case EqualTo(s: ScalarSubquery, a)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, EqualTo))
      case GreaterThanOrEqual(a, s: ScalarSubquery)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, GreaterThanOrEqual))
      case LessThanOrEqual(a, s: ScalarSubquery)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, LessThanOrEqual))
      case GreaterThan(a, s: ScalarSubquery)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, GreaterThan))
      case LessThan(a, s: ScalarSubquery)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, LessThan))
      // mirrored inequalities: literal-side subquery flips the operator
      case GreaterThanOrEqual(s: ScalarSubquery, a)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, LessThanOrEqual))
      case LessThanOrEqual(s: ScalarSubquery, a)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, GreaterThanOrEqual))
      case GreaterThan(s: ScalarSubquery, a)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, LessThan))
      case LessThan(s: ScalarSubquery, a)
          if attrish(a) && s.outerAttrs.isEmpty =>
        tryEval(scalarCmp(spark, a, s, GreaterThan))
      // correlated EXISTS with an equi-correlation — the idiomatic SQL
      // dedup probe, `EXISTS (SELECT 1 FROM dup d WHERE d.k = f.id
      // AND ...)`: the inner side of the correlation's domain prunes
      // the outer attribute. Not(Exists) has no sound domain form.
      case ex: Exists => tryEval(existsDomain(spark, ex))
      case _ => Nil
    }
  }

  /** Domain pruning for a correlated EXISTS: find the Filter inside
    * the plan whose condition carries equi-conjuncts between an
    * OUTER attribute and an inner attribute; strip those conjuncts
    * and evaluate the INNER attributes' value domain over that Filter
    * subtree alone. Sound by widening: any operator ABOVE the Filter
    * (another filter, a join, a limit) can only REMOVE inner rows, so
    * the subtree's domain is a superset of the values that could make
    * EXISTS true — pruning by it never drops a qualifying outer row.
    * Bails (no pruning) when any OTHER correlated reference remains:
    * its effect on the domain can't be bounded from here.
    */
  private def existsDomain(spark: SparkSession,
      ex: Exists): Seq[Expression] = {
    // the single Filter carrying ALL the plan's outer references
    val filters = ex.plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(_.isInstanceOf[OuterReference]) => f
    }
    val outerRefsInPlan = outerRefCensus(ex.plan)
    if (filters.size != 1) return Nil
    val f = filters.head
    // every operator between the plan root and the correlated Filter
    // must propagate emptiness, or EXISTS can be TRUE for outer values
    // outside the subtree's domain (an ungrouped Aggregate yields one
    // row regardless; a Union's other branch supplies rows; the
    // preserved side of an outer join null-extends) — pruning by the
    // subtree domain would then drop qualifying files
    if (!emptyPropagating(ex.plan, f)) return Nil
    // split the condition: equi pairs (outer attr, inner attr) vs rest
    val parts = conjuncts(f.condition)
    val pairs = parts.collect {
      case EqualTo(OuterReference(a: AttributeReference),
          b: AttributeReference) => (a, b)
      case EqualTo(b: AttributeReference,
          OuterReference(a: AttributeReference)) => (a, b)
    }
    if (pairs.isEmpty) return Nil
    val rest = parts.filterNot {
      case EqualTo(OuterReference(_: AttributeReference),
        _: AttributeReference) => true
      case EqualTo(_: AttributeReference,
        OuterReference(_: AttributeReference)) => true
      case _ => false
    }
    // every outer reference of the WHOLE plan must be one of the
    // stripped equi conjuncts — a residual correlation (in `rest`, in
    // a projection, anywhere) makes the domain unboundable from here
    val strippedRefs = pairs.size
    if (outerRefsInPlan != strippedRefs ||
      rest.exists(_.exists(_.isInstanceOf[OuterReference]))) return Nil
    val inner = org.apache.spark.sql.catalyst.plans.logical.Project(
      pairs.map(_._2),
      if (rest.isEmpty) f.child
      else org.apache.spark.sql.catalyst.plans.logical.Filter(
        rest.reduce(And), f.child))
    val df = graftshim.dfFromPlan(spark, inner)
    if (!evaluable(df)) return Nil
    KeyDomain.of(df, pairs.map(_._1).zip(df.schema.map(_.dataType))).conjuncts
  }

  /** Count OuterReference nodes anywhere in the plan, INCLUDING inside
    * nested subquery plans — expression traversal alone does not
    * descend a SubqueryExpression's plan, so a correlation hidden one
    * subquery level down would otherwise escape the
    * all-refs-stripped check (safe today only because resolution
    * happens to fail downstream; the census makes the refusal
    * explicit). Over-counting is conservative — it can only bail.
    */
  private def outerRefCensus(plan: org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan): Int = {
    var n = 0
    plan.foreach { p =>
      p.expressions.foreach(_.foreach {
        case _: OuterReference     => n += 1
        case s: SubqueryExpression => n += outerRefCensus(s.plan)
        case _                     => ()
      })
    }
    n
  }

  /** TRUE when every operator on the path from `node` down to `target`
    * only produces output rows if its target-side input produced rows
    * (per correlation binding) — the widening argument
    * [[existsDomain]] rests on. Whitelist: row-preserving or
    * row-removing single-child operators, GROUPED aggregates (output
    * nonempty iff input nonempty), and joins whose emptiness follows
    * the target-side child. Everything else — ungrouped Aggregate,
    * Union, the preserved side of an outer join — refuses.
    */
  private def emptyPropagating(
      node: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      target: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans._
    import org.apache.spark.sql.catalyst.plans.logical._
    if (node eq target) true
    else node match {
      case p: Project       => emptyPropagating(p.child, target)
      case f: Filter        => emptyPropagating(f.child, target)
      case s: SubqueryAlias => emptyPropagating(s.child, target)
      case d: Distinct      => emptyPropagating(d.child, target)
      case l: GlobalLimit   => emptyPropagating(l.child, target)
      case l: LocalLimit    => emptyPropagating(l.child, target)
      case s: Sort          => emptyPropagating(s.child, target)
      case w: Window        => emptyPropagating(w.child, target)
      case a: Aggregate if a.groupingExpressions.nonEmpty =>
        emptyPropagating(a.child, target)
      case j: Join =>
        val onLeft = j.left.exists(_ eq target)
        val child = if (onLeft) j.left else j.right
        val joinOk = j.joinType match {
          // inner/cross/semi: empty either side ⇒ empty output;
          // anti and the outer types only from their restricting side
          case Inner | Cross | LeftSemi => true
          case LeftAnti                 => onLeft
          case LeftOuter                => onLeft
          case RightOuter               => !onLeft
          case _                        => false
        }
        joinOk && emptyPropagating(child, target)
      case _ => false
    }
  }

  private def tryEval(body: => Seq[Expression]): Seq[Expression] =
    try body catch { case scala.util.control.NonFatal(_) => Nil }

  private def evaluable(df: org.apache.spark.sql.DataFrame): Boolean =
    KeyDomain.evaluable(df, KeyDomain.MaxSubqueryBytes)

  private def inDomain(spark: SparkSession, a: Expression,
      l: ListQuery): Seq[Expression] = {
    val df = graftshim.dfFromPlan(spark, l.plan)
    if (!evaluable(df)) return Nil
    KeyDomain.of(df.select(col(s"`${df.columns.head}`")),
      Seq(a -> df.schema.head.dataType)).conjuncts
  }

  private def scalarCmp(spark: SparkSession, a: Expression,
      s: ScalarSubquery,
      cmp: (Expression, Expression) => Expression): Seq[Expression] = {
    val df = graftshim.dfFromPlan(spark, s.plan)
    if (!evaluable(df)) return Nil
    val rows = df.limit(2).collect()
    // >1 row is a runtime error the real execution will raise — don't
    // preempt it here; 0 rows / NULL value makes the comparison
    // unsatisfiable, so every file prunes (the filter's own result)
    if (rows.length > 1) Nil
    else if (rows.isEmpty || rows(0).isNullAt(0)) Seq(In(a, Nil))
    else Seq(cmp(a, Literal.create(rows(0).get(0), df.schema.head.dataType)))
  }
}
