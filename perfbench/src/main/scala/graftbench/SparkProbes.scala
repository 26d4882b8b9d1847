package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side collectors for the traced run, attributed to the workload
  * operation active on the client thread:
  *
  *   - a `SparkListener` for jobs (recorded as `spark` spans), stages,
  *     tasks, executor run and CPU time, and input, shuffle and spill
  *     bytes. Jobs carry the operation and span ids as local
  *     properties, set whenever the active span changes;
  *   - a `QueryExecutionListener` for `QueryPlanningTracker` phase times
  *     and the exchange count of the final (AQE) plan;
  *   - `CodegenMetrics.METRIC_COMPILATION_TIME` deltas per operation;
  *   - GC time and peak heap from the JVM's MXBeans.
  *
  * Listener events arrive asynchronously; [[drain]] waits for the bus,
  * and the traced run calls it at the end of every operation so each
  * event lands on the operation that caused it.
  */
final class SparkProbes(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val OpKey = "graftbench.op"
  private val SpanKey = "graftbench.span"
  /** Listener timestamps are wall-clock millis; spans are on the
    * monotonic clock. The two are paired afresh at each conversion,
    * because the wall clock may be stepped during a run.
    */
  private def msToNs(ms: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - ms) * 1000000L

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int, Long)]()
  private val stageOps = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .flatMap(_.toIntOption).getOrElse(Trace.op)
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(_.toIntOption).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobs.put(e.jobId, (op, spanOf(e.properties), e.time))
      Trace.count("spark.jobs", opId = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (op, parent, start) =>
        Trace.record(Span(Trace.newId(), parent, op, "spark.job", "spark",
          msToNs(start), msToNs(e.time)))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = opOf(e.properties)
      stageOps.put(e.stageInfo.stageId, op)
      Trace.count("spark.stages", opId = op)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = Option(stageOps.get(e.stageId)).map(_.intValue).getOrElse(Trace.op)
      Trace.count("spark.tasks", opId = op)
      Option(e.taskMetrics).foreach { m =>
        Trace.count("spark.task_ms", m.executorRunTime.toDouble, op)
        Trace.count("spark.task_cpu_ms", m.executorCpuTime / 1e6, op)
        Trace.count("spark.input_bytes", m.inputMetrics.bytesRead.toDouble, op)
        Trace.count("spark.shuffle_read_bytes",
          m.shuffleReadMetrics.totalBytesRead.toDouble, op)
        Trace.count("spark.shuffle_write_bytes",
          m.shuffleWriteMetrics.bytesWritten.toDouble, op)
        Trace.count("spark.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, op)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      Trace.count("catalyst.analysis_ms", phase("analysis"))
      Trace.count("catalyst.optimization_ms", phase("optimization"))
      Trace.count("catalyst.planning_ms", phase("planning"))
      Trace.count("exec.exchanges", SparkProbes.exchanges(qe.executedPlan).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    Trace.onActive = (op, span) => {
      sc.setLocalProperty(OpKey, op.toString)
      sc.setLocalProperty(SpanKey, span.toString)
    }
  }

  def drain(): Unit = org.apache.spark.GraftBenchShim.drain(sc)

  // per-operation JVM and codegen deltas, sampled on the client thread
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileMsSum: Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum

  /** Runs `f` and charges its GC, codegen and listener work to the
    * current operation.
    */
  def around[T](f: => T): T = {
    val gc0 = gcMs; val c0 = compiles; val cms0 = compileMsSum
    try f
    finally {
      drain()
      Trace.count("jvm.gc_ms", (gcMs - gc0).toDouble)
      val dc = compiles - c0
      Trace.count("codegen.compiles", dc.toDouble)
      // the histogram's reservoir holds every sample until it fills
      // (1028 samples); past that the delta of its sum undercounts, so
      // fall back to count x reservoir mean
      val dms =
        if (compiles <= 1028) compileMsSum - cms0
        else dc * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      Trace.count("codegen.compile_ms", math.max(dms, 0.0))
    }
  }

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

object SparkProbes extends AdaptiveSparkPlanHelper {
  /** Exchanges in the executed plan, looking through AQE query stages
    * and subqueries; reused exchanges are not counted again.
    */
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size
}
