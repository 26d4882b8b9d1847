package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-loop plan dumper (not part of the driver contract). For each
  * selected query it writes the planned and the executed plan under
  * plans/<SPARK_GRAFT_PLAN_TAG>/ — the before/after plan evidence the
  * optimization rounds commit:
  *   - `<query>_<SPARK_GRAFT_PLAN_SUFFIX>.txt`: `.explain("formatted")`
  *     before execution;
  *   - `<query>_<SPARK_GRAFT_PLAN_SUFFIX>_final.txt`: the executed plan
  *     of a `noop` write of the query (the way Bench materializes it),
  *     with the final adaptive plan — runtime-only shapes such as
  *     reused exchanges, coalesced shuffle reads and join strategies
  *     that AQE switched show only here — and below it each executed
  *     operator with its non-zero SQL metrics (times in ms, bytes,
  *     rows): the Spark-UI SQL tab for a headless host.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   SPARK_GRAFT_PLAN_TAG=r19 SPARK_GRAFT_PLAN_SUFFIX=before \
  *     sbt "runMain graft.Plans q127 q135"
  */
object Plans {

  /** One line per operator of the executed plan, indented by depth,
    * with its non-zero SQL metrics, largest first. Walks into adaptive
    * plans, query stages and shuffle reads, and into subqueries.
    */
  private def dumpMetrics(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
    val m = p.metrics.toSeq
      .filter(_._2.value > 0)
      .sortBy(-_._2.value)
      .map { case (k, v) => s"$k=${v.value}" }
      .mkString(", ")
    out.append("  " * depth).append(p.nodeName)
    if (m.nonEmpty) out.append("  [").append(m).append("]")
    out.append('\n')
    p match {
      case a: AdaptiveSparkPlanExec => dumpMetrics(a.executedPlan, depth + 1, out)
      case q: QueryStageExec => dumpMetrics(q.plan, depth + 1, out)
      case r: AQEShuffleReadExec => r.children.foreach(dumpMetrics(_, depth + 1, out))
      case other =>
        other.children.foreach(dumpMetrics(_, depth + 1, out))
        other.subqueries.foreach { s =>
          out.append("  " * (depth + 1)).append("Subquery:\n")
          dumpMetrics(s, depth + 2, out)
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r19")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = GraftSession.builder(s"local[$cpus]", Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the noop write plans its own QueryExecution; the listener hands
    // it over once the write has run
    @volatile var executed: Option[QueryExecution] = None
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = executed = Some(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    val wanted = args.toSeq
    val queries = graft.queries.Registry.all.sortBy(_.name)
      .filter(q => wanted.isEmpty || wanted.exists(q.name.contains))
    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)
    def write(name: String, txt: String): Unit = {
      java.nio.file.Files.writeString(dir.resolve(name), txt)
      println(s"[plans] wrote $name")
    }
    queries.foreach { q =>
      try {
        val df = q.fn(spark, sfDir)
        write(s"${q.name}_$suffix.txt", df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        org.apache.spark.sql.graftshim.drainListenerBus(spark)
        executed = None
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.graftshim.drainListenerBus(spark)
        executed.foreach { qe =>
          val out = new StringBuilder(qe.executedPlan.toString)
          out.append("\n== SQL metrics (non-zero) ==\n")
          dumpMetrics(qe.executedPlan, 0, out)
          write(s"${q.name}_${suffix}_final.txt", out.result())
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"[plans] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
