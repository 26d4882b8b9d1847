package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed workload operation. `cls` is "read" for read-only requests
  * and queries, "commit" for table writes and maintenance.
  */
final case class Sample(op: Int, kind: String, cls: String, ms: Double,
    measured: Boolean)

/** What a workload hands back to [[Main]]: its set-up time, table
  * sizes at the start and end of the measured phase, workload-specific
  * end-to-end figures (printed, not gated) and the per-layer figures
  * only a workload can compute.
  */
final case class Outcome(setupSeconds: Double,
    sizes: Seq[(String, String)], extra: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)])

/** Shared machinery: operation timing, answer checking and counting. */
final class Runner(val spark: SparkSession, val seed: Long,
    val seconds: Int, val traced: Boolean, val workDir: String) {

  val probes: Option[SparkProbes] =
    if (traced) Some(new SparkProbes(spark)) else None

  val samples = mutable.ArrayBuffer[Sample]()
  var attempted = 0
  val failures = mutable.ArrayBuffer[String]()
  private var nextOp = 0
  var measuring = false

  private val born = System.nanoTime()
  val phases = mutable.ArrayBuffer[(String, Double)]()
  /** Marks the end of a phase of the run, for the printed timeline. */
  def phase(name: String): Unit = phases += ((name, (System.nanoTime() - born) / 1e9))

  /** Times `f` as one operation, then checks its answer outside the
    * timed interval. A thrown exception or a failed check counts as a
    * failed operation; the run goes on so every failure is reported.
    */
  def op[T](kind: String, cls: String)(f: => T)(check: T => Option[String])
      : Option[T] = {
    nextOp += 1
    val id = nextOp
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Right(Trace.operation(id, kind) {
        probes match {
          case Some(p) => p.around(f)
          case None    => f
        }
      })
      catch {
        case e: Exception =>
          System.err.println(s"operation $id ($kind) failed:")
          e.printStackTrace()
          Left(e)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    samples += Sample(id, kind, cls, ms, measuring)
    res match {
      case Left(e) =>
        failures += s"$kind (op $id) threw: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(300)}"
        None
      case Right(v) =>
        check(v).foreach(msg => failures += s"$kind (op $id) wrong answer: $msg")
        Some(v)
    }
  }

  /** An untimed correctness check that is not an operation of its own. */
  def verify(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    try check.foreach(msg => failures += s"$what wrong: $msg")
    catch {
      case e: Exception =>
        failures += s"$what threw: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  def measuredOps: Set[Int] = samples.filter(_.measured).map(_.op).toSet

  /** Directory size in bytes (regular files only). */
  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest value, and the percentile it stands at. Below 21
    * samples that percentile would not lie above the median, so the
    * tail is then `small`, computed by the caller.
    */
  def tail(xs: Seq[Double], small: => Double): (Double, Option[Int]) = {
    val s = xs.sorted
    if (s.size < 21) (small, None)
    else (s(s.size - 11), Some((100 * (s.size - 10)) / s.size))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}
