package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Expression,
  GreaterThanOrEqual, In, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.DataType

/** The key-domain evaluator behind graft's planning-time pruning jobs:
  * join ([[graft.catalog.JoinFilePruning]]), subquery
  * ([[SubqueryPruning]]) and MERGE-source pruning
  * ([[GraftTable.merge]]) each evaluate a small relation's key values
  * and prune a table's files by them. All three gate the relation,
  * evaluate its domain and read their settings here.
  *
  * Settings (a malformed value reads as its default — pruning is an
  * optimization and must never fail the statement it serves):
  *   spark.graft.dynamicPruning.enabled       (default true) kill switch
  *   spark.graft.dynamicPruning.maxKeys       (default 1000) widest IN-set
  *   spark.graft.dynamicPruning.maxBuildRows  (default 100000) join build gate
  *   spark.graft.dynamicPruning.sampledBuild  (default true) sampled joins
  */
private[graft] object KeyDomain {

  /** Estimated-size caps of the evaluated relation: a plain (non-graft)
    * join build, the sampled-build pass, a subquery, a MERGE source.
    */
  val MaxBuildBytes: Long = 8L << 20
  val MaxSampledBuildBytes: Long = 256L << 20
  val MaxSubqueryBytes: Long = 256L << 20
  val MaxMergeSourceBytes: Long = 256L << 20

  /** A join's probe estimate must be at least this many times its
    * build's, or the evaluation job is not worth paying.
    */
  val Ratio: Long = 4L

  private def conf[T](spark: SparkSession, key: String, default: T)(
      parse: String => Option[T]): T =
    spark.conf.getOption(key).flatMap(parse).getOrElse(default)

  def enabled(spark: SparkSession): Boolean =
    conf(spark, "spark.graft.dynamicPruning.enabled", true)(_.toBooleanOption)

  /** Non-negative and below Int.MaxValue, so `maxKeys + 1` is a limit. */
  def maxKeys(spark: SparkSession): Int =
    conf(spark, "spark.graft.dynamicPruning.maxKeys", 1000)(
      _.toIntOption.filter(k => k >= 0 && k < Int.MaxValue))

  def maxBuildRows(spark: SparkSession): Long =
    conf(spark, "spark.graft.dynamicPruning.maxBuildRows", 100000L)(
      _.toLongOption)

  def sampledBuild(spark: SparkSession): Boolean =
    conf(spark, "spark.graft.dynamicPruning.sampledBuild", true)(
      _.toBooleanOption)

  /** The gate before any evaluation: `df` is deterministic (otherwise
    * its domain here could differ from the one the statement's own
    * evaluation sees) and estimated at most `capBytes` (the extra pass
    * must stay cheap next to the scan it saves).
    */
  def evaluable(df: DataFrame, capBytes: Long): Boolean =
    !df.queryExecution.analyzed.exists(_.expressions.exists(!_.deterministic)) &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= capBytes

  /** One pruning conjunct per target, and the number of distinct key
    * tuples when the IN-set form was used (−1: the min/max range form).
    */
  final case class Domain(conjuncts: Seq[Expression], keys: Long)

  /** Evaluate the domain of `df`'s columns onto `targets`, column i
    * onto target i as literals of target i's type. NULL keys never
    * equi-match and drop first, so an empty or all-NULL `df` yields
    * `target IN ()` (every file prunes). Up to [[maxKeys]] distinct
    * tuples give one IN-set per target (one small job); a wider domain
    * gives a closed min/max range per target (one more aggregate job),
    * under which clustered layouts still collapse and bucket layouts
    * keep their files.
    */
  def of(df: DataFrame, targets: Seq[(Expression, DataType)]): Domain = {
    val maxKeys = this.maxKeys(df.sparkSession)
    // positional names: key columns may share a name
    val names = df.columns.indices.map(i => s"_k$i")
    val cols = names.map(col)
    val nonNull = cols.foldLeft(df.toDF(names: _*))((d, c) => d.filter(c.isNotNull))
    val rows = nonNull.distinct().limit(maxKeys + 1).collect()
    if (rows.length <= maxKeys)
      Domain(targets.zipWithIndex.map { case ((t, dt), i) =>
        In(t, rows.map(_.get(i)).distinct.toSeq.map(Literal.create(_, dt)))
      }, rows.length.toLong)
    else {
      val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(c).as(s"_lo$i"), max(c).as(s"_hi$i")) }
      val r = nonNull.agg(aggs.head, aggs.tail: _*).head()
      Domain(targets.zipWithIndex.map { case ((t, dt), i) =>
        if (r.isNullAt(2 * i)) In(t, Nil)
        else And(GreaterThanOrEqual(t, Literal.create(r.get(2 * i), dt)),
          LessThanOrEqual(t, Literal.create(r.get(2 * i + 1), dt)))
      }, -1L)
    }
  }
}
