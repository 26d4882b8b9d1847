package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Between, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftshim
import graft.engine.GraftTable

/** Eagerly-executed commands the resolution rule substitutes for SQL
  * DML against graft tables (the reference drives ALL its DML through
  * SQL text — INSERT INTO cells 11/22/27, UPDATE cell 24, DELETE cell
  * 11). Each delegates to the engine API so CoW/MoR mode selection,
  * stats pruning, and snapshot commits are identical to programmatic
  * calls.
  *
  * Conditions/values captured at analysis carry AttributeReferences
  * bound to the ORIGINAL relation; `unbind` rewrites them to
  * by-name UnresolvedAttributes so they re-resolve against the fresh
  * read the engine performs.
  */
object GraftSqlCommands {

  def unbind(e: Expression): Expression = e.transform {
    // BETWEEN carries a prebuilt replacement (a `With` over a common
    // expression typed from the bound input): unbinding the attribute
    // inside it leaves a typed reference to an unresolved child, which
    // throws on rebuild. Go back to the parser's own form instead —
    // the registry rebuilds BETWEEN once the input has re-resolved.
    case b: Between =>
      UnresolvedFunction("between", Seq(b.input, b.lower, b.upper),
        isDistinct = false)
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
      s.withNewPlan(unbindPlan(s.plan))
  }

  /** Correlated subqueries carry OUTER references to the original
    * relation INSIDE their plan (not in the outer expression tree, so
    * `transform` never reaches them). Unwrap them back to bare names:
    * the analyzer re-resolves a name that doesn't bind inside the
    * subquery against the outer scope and re-wraps it — the exact path
    * freshly-parsed SQL takes.
    *
    * Shadow guard: inner scope resolves FIRST, so if any node inside
    * the subquery produces a same-named column, the bare name would
    * silently capture there and the correlation would be lost (e.g.
    * `keys.k = t.id` becoming `keys.k = keys.id`). The original
    * qualifier cannot ride along — it names a relation that no longer
    * exists in the engine's re-planned read — so fail loudly instead
    * of corrupting the predicate.
    */
  private def unbindPlan(p: LogicalPlan): LogicalPlan = {
    // capture risk comes from BASE relation columns (visible throughout
    // the subquery's FROM scope) — a projection alias above the
    // reference's position cannot shadow it and must not false-reject
    lazy val innerNames: Set[String] =
      p.collectLeaves().flatMap(_.output).map(_.name.toLowerCase).toSet
    p.transformAllExpressions {
      case org.apache.spark.sql.catalyst.expressions.OuterReference(a: AttributeReference) =>
        if (innerNames.contains(a.name.toLowerCase))
          sys.error(s"correlated reference to '${a.name}' would be shadowed " +
            "by a same-named column inside the subquery when the condition " +
            "re-resolves; alias the inner column to a different name")
        UnresolvedAttribute(Seq(a.name))
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        s.withNewPlan(unbindPlan(s.plan))
    }
  }
}

/** INSERT INTO / INSERT OVERWRITE graft.db.t. */
final case class GraftInsertCommand(location: String, query: LogicalPlan,
    overwrite: Boolean, columnNames: Seq[String]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val t = GraftTable.load(session, location)
    // inside a transaction the statement plans against the chain's
    // preview (or the begin-time pin): a staged ALTER TABLE earlier in
    // the transaction must shape THIS insert's schema, not live state
    val txBase: Option[(graft.tableformat.TableMetadata, Boolean)] =
      if (GraftSqlTransactions.active(session))
        Some(GraftSqlTransactions.planBase(session, location, t.meta))
      else None
    var df = graftshim.dfFromPlan(session, query)
    val fields = txBase.map(_._1).getOrElse(t.meta).currentSchema.fields
    val target = fields.map(_.name)
    if (columnNames.nonEmpty) {
      // an explicit column list names the query's positional output
      // (VALUES rows arrive as col1, col2, ...), then maps BY NAME onto
      // the table schema; columns NOT named null-fill (standard SQL /
      // Spark semantics for tables without DEFAULTs). Resolution is
      // exact-name first, case-insensitive only when unambiguous (same
      // rule as UPDATE targets — rename can create case-only twins).
      require(df.columns.length == columnNames.length,
        s"INSERT column list has ${columnNames.length} names, " +
          s"query provides ${df.columns.length} columns")
      def resolve(k: String): String =
        fields.find(_.name == k).map(_.name).getOrElse(
          fields.filter(_.name.equalsIgnoreCase(k)) match {
            case Vector(one) => one.name
            case Vector() => sys.error(s"INSERT column '$k' not in table " +
              s"(${target.mkString(", ")})")
            case many => sys.error(s"INSERT column '$k' is ambiguous: " +
              many.map(_.name).mkString(", "))
          })
      val resolved = columnNames.map(resolve)
      val dupes = resolved.groupBy(identity)
        .collect { case (n, g) if g.size > 1 => n }
      require(dupes.isEmpty,
        s"duplicate INSERT columns: ${dupes.mkString(", ")}")
      val provided = resolved.toSet
      df = df.toDF(resolved: _*).select(fields.map { f =>
        if (provided(f.name)) col(s"`${f.name}`")
        else lit(null).cast(f.sparkType).as(f.name)
      }: _*)
    } else {
      // SQL INSERT INTO without a column list is POSITIONAL — never
      // reorder by name, even when the query's names permute the
      // table's (matching Spark's own semantics for every other table)
      require(df.columns.length == target.length,
        s"INSERT provides ${df.columns.length} columns, table has ${target.length}")
      df = df.toDF(target: _*)
    }
    txBase match {
      case Some((baseM, _)) =>
        // inside BEGIN TRANSACTION: stage instead of committing — the
        // files are written now, the snapshot lands with COMMIT's one
        // atomic claim set; a repeat statement on the same table plans
        // against the transaction's preview of it. Appends don't
        // revalidate: they compose with any base by construction.
        require(!overwrite,
          "INSERT OVERWRITE is not supported inside BEGIN TRANSACTION")
        GraftSqlTransactions.stage(session, location, "INSERT", baseM,
          revalidates = false, t.stageAppend(df, Some(baseM)))
      case None =>
        if (overwrite) t.overwrite(df) else t.append(df)
    }
    Seq.empty
  }
}

/** CREATE TABLE ... AS SELECT / REPLACE TABLE ... AS SELECT
  * (reference cells 68 and 13).
  */
final case class GraftCtasCommand(location: String, tableName: String,
    query: LogicalPlan, partition: Seq[(String, String)],
    properties: Map[String, String], replace: Boolean,
    ifNotExists: Boolean, orCreate: Boolean)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    GraftSqlTransactions.refuse(session, "CREATE/REPLACE TABLE AS SELECT")
    val df = graftshim.dfFromPlan(session, query)
    val exists = graft.tableformat.MetadataIO.exists(location)
    if (replace) {
      // CREATE OR REPLACE on a missing table creates; plain REPLACE
      // errors (SQL semantics); an explicit PARTITIONED BY /
      // TBLPROPERTIES carries into the replacement spec
      if (exists) GraftTable.replaceAs(session, location, df,
        partition, properties)
      else if (orCreate) GraftTable.createAs(session, location, tableName,
        df, partition, properties)
      else sys.error(s"REPLACE TABLE: no table at $location " +
        "(use CREATE OR REPLACE TABLE)")
    } else if (exists && ifNotExists) {
      () // CREATE TABLE IF NOT EXISTS on an existing table: no-op
    } else {
      GraftTable.createAs(session, location, tableName, df,
        partition, properties)
    }
    Seq.empty
  }
}

/** Opaque expression holder: captured DML conditions deliberately
  * defer resolution (alias-qualified UnresolvedAttributes that bind
  * inside the engine's own plans at run time) and may carry IN/EXISTS
  * subqueries that are only legal in the positions the engine puts
  * them (Filter). A bare Expression field on a command would be walked
  * by checkAnalysis and rejected on both counts — the holder keeps it
  * out of QueryPlan.expressions.
  */
final case class ExprHolder(expr: Expression)

/** MERGE action specs captured from a MergeIntoTable statement at
  * resolution time: target references were remapped to alias-qualified
  * UnresolvedAttributes (they re-resolve against the engine's fresh
  * tagged read), source references stay bound to the captured source
  * plan, which the command re-analyzes verbatim.
  */
sealed trait MergeActionSpec
final case class MergeUpdateSpec(condition: Option[Expression],
    assignments: Seq[(String, Expression)]) extends MergeActionSpec
final case class MergeUpdateAllSpec(condition: Option[Expression]) extends MergeActionSpec
final case class MergeDeleteSpec(condition: Option[Expression]) extends MergeActionSpec
final case class MergeInsertSpec(condition: Option[Expression],
    assignments: Seq[(String, Expression)]) extends MergeActionSpec
final case class MergeInsertAllSpec(condition: Option[Expression]) extends MergeActionSpec

/** MERGE INTO graft.db.t [AS alias] USING src ON cond WHEN ... */
final case class GraftMergeCommand(location: String, targetAlias: String,
    source: LogicalPlan, condition: ExprHolder,
    matched: Seq[MergeActionSpec], notMatched: Seq[MergeActionSpec],
    notMatchedBySource: Seq[MergeActionSpec]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.Column
    import graft.engine._
    val srcDf = graftshim.dfFromPlan(session, source)
    def toCol(e: Expression): Column = graftshim.columnOf(e)
    def assigns(as: Seq[(String, Expression)]): Map[String, Column] = {
      // duplicates must error BEFORE the map collapses them last-wins
      val dupes = as.map(_._1).groupBy(identity)
        .collect { case (n, g) if g.size > 1 => n }
      require(dupes.isEmpty,
        s"duplicate MERGE assignment targets: ${dupes.mkString(", ")}")
      as.map { case (k, v) => k -> toCol(v) }.toMap
    }
    def matchedClause(a: MergeActionSpec): MergeMatchedClause = a match {
      case MergeUpdateSpec(c, as) => MergeUpdateClause(c.map(toCol), assigns(as))
      case MergeUpdateAllSpec(c)  => MergeUpdateAllClause(c.map(toCol))
      case MergeDeleteSpec(c)     => MergeDeleteClause(c.map(toCol))
      case other => sys.error(s"INSERT is only valid WHEN NOT MATCHED: $other")
    }
    def insertClause(a: MergeActionSpec): MergeInsertClause = a match {
      case MergeInsertSpec(c, as) => MergeInsertValuesClause(c.map(toCol), assigns(as))
      case MergeInsertAllSpec(c)  => MergeInsertAllClause(c.map(toCol))
      case other => sys.error(s"only INSERT is valid WHEN NOT MATCHED: $other")
    }
    val t = GraftTable.load(session, location)
    if (GraftSqlTransactions.active(session)) {
      // inside BEGIN TRANSACTION: the merge is planned and written NOW
      // (CoW rewrite, or delete file + copies on merge-on-read), its
      // snapshot lands with COMMIT's one atomic claim set — the
      // CDC-upsert-plus-index shape commits transactionally
      val (baseM, isFirst) =
        GraftSqlTransactions.planBase(session, location, t.meta)
      GraftSqlTransactions.stage(session, location, "MERGE", baseM,
        revalidates = true,
        t.stageMerge(srcDf, toCol(condition.expr),
          matched.map(matchedClause), notMatched.map(insertClause),
          notMatchedBySource.map(matchedClause), Some(targetAlias),
          Some(baseM), revalidate = isFirst))
    } else t.merge(srcDf, toCol(condition.expr),
      matched.map(matchedClause), notMatched.map(insertClause),
      notMatchedBySource.map(matchedClause), Some(targetAlias))
    Seq.empty
  }
}

/** TRUNCATE TABLE graft.db.t — empty snapshot, history kept. */
final case class GraftTruncateCommand(location: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftSqlTransactions.refuse(session, "TRUNCATE TABLE")
    GraftTable.load(session, location).truncate()
    Seq.empty
  }
}

/** DELETE FROM graft.db.t WHERE cond. */
final case class GraftDeleteCommand(location: String,
    condition: ExprHolder) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftTable.load(session, location)
    val cond = graftshim.columnOf(GraftSqlCommands.unbind(condition.expr))
    if (GraftSqlTransactions.active(session)) {
      val (baseM, isFirst) =
        GraftSqlTransactions.planBase(session, location, t.meta)
      GraftSqlTransactions.stage(session, location, "DELETE", baseM,
        revalidates = true,
        t.stageDelete(cond, Some(baseM), revalidate = isFirst))
    } else t.delete(cond)
    Seq.empty
  }
}

/** UPDATE graft.db.t SET ... [WHERE cond]. */
final case class GraftUpdateCommand(location: String,
    assignments: Seq[(String, Expression)],
    condition: Option[ExprHolder]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    val cond = condition.map(c => graftshim.columnOf(GraftSqlCommands.unbind(c.expr)))
      .getOrElse(lit(true))
    // duplicates must error BEFORE the map collapses them last-wins
    val dupes = assignments.map(_._1).groupBy(identity)
      .collect { case (n, g) if g.size > 1 => n }
    require(dupes.isEmpty,
      s"duplicate UPDATE targets: ${dupes.mkString(", ")}")
    val as = assignments.map { case (name, value) =>
      name -> graftshim.columnOf(GraftSqlCommands.unbind(value))
    }.toMap
    val t = GraftTable.load(session, location)
    if (GraftSqlTransactions.active(session)) {
      val (baseM, isFirst) =
        GraftSqlTransactions.planBase(session, location, t.meta)
      GraftSqlTransactions.stage(session, location, "UPDATE", baseM,
        revalidates = true,
        t.stageUpdate(cond, as, Some(baseM), revalidate = isFirst))
    } else t.update(cond, as)
    Seq.empty
  }
}
