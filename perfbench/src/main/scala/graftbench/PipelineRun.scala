package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `pipeline`: five Registry queries of the LLM-data pipeline tier over
  * plain corpus parquet, each materialized with a `noop` write. No graft
  * table is involved, so the table-format counters stay at zero here and
  * this workload is the control for metadata-layer changes.
  *
  * Set-up writes the corpus (untimed: it is the benchmark's generator
  * and Spark's plain parquet writer) and then runs every query once, in
  * a fixed order. Those first executions are 2-4x slower than later
  * ones (planning, codegen, JIT, and the memoized input q92 builds
  * once), and their total is `setup_s`. They happen once per JVM, so
  * set-up is not repeated. The measured passes follow, each in a
  * seeded order, one query at a time.
  *
  * Every execution's row count and order-insensitive hash are observed
  * in the same action as its noop write, so the timed interval includes
  * that per-row hash, and are checked against the pins in `pins.json`
  * after the action returns.
  */
object PipelineRun {
  /** ROADMAP backlog queries: q43, q71, q92 (dup clusters), q100
    * (repetition stats) and q105. An odd count puts the median
    * execution inside one query's samples.
    */
  val Queries: Vector[String] = Vector("q43", "q71", "q92", "q100", "q105")
  val Docs = 400
  val Vecs = 170

  /** Three measured passes at the default 10 s, so each query's median
    * is one middle sample.
    */
  def passes(seconds: Int): Int = math.max(1, math.round(seconds * 0.3).toInt)

  def query(q: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.collectFirst { case (n, f) if n.startsWith(s"${q}_") => f }
      .getOrElse(sys.error(s"no Registry query $q"))

  def fullName(q: String): String =
    SparkEntry.queries.keys.find(_.startsWith(s"${q}_")).getOrElse(q)

  /** Doubles rounded to 6 places, so the hash survives last-bit
    * differences in floating-point summation order.
    */
  private def normalized(f: StructField): Column = f.dataType match {
    case DoubleType | FloatType => round(col(s"`${f.name}`").cast("double"), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(col(s"`${f.name}`"), x => round(x.cast("double"), 6))
    case _ => col(s"`${f.name}`")
  }

  def hashOf(df: DataFrame): Column =
    pmod(xxhash64(df.schema.fields.map(normalized).toIndexedSeq: _*), lit(2147483647L))

  private var observations = 0

  /** Runs `q` once with a noop write; returns (rows, hash). */
  def execute(spark: SparkSession, q: String, dir: String): (Long, Long) = {
    val df = Trace.span(s"pipeline.$q.build", "pipeline")(query(q)(spark, dir))
    observations += 1
    val obs = Observation(s"bench_${q}_$observations")
    Trace.span("action.noop_write", "action") {
      df.observe(obs, count(lit(1)).as("n"), sum(hashOf(df)).as("h"))
        .write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  def run(r: Runner, pins: Map[String, (Long, Long)]): Outcome = {
    val dir = s"${r.workDir}/corpus"
    val w0 = System.nanoTime()
    Corpus.write(r.spark, dir, Docs, Vecs)
    val corpusSeconds = (System.nanoTime() - w0) / 1e9
    val rnd = new scala.util.Random(r.seed)
    def check(q: String, got: (Long, Long)): Option[String] = pins.get(q) match {
      case None => Some(s"no pin for $q")
      case Some(p) if p == got => None
      case Some(p) => Some(s"$q rows/hash $got, pinned $p")
    }
    def pass(order: Seq[String]): Unit = order.foreach { q =>
      r.op(q, "read")(execute(r.spark, q, dir))(check(q, _))
    }
    val t0 = System.nanoTime()
    pass(Queries)
    val setupSeconds = (System.nanoTime() - t0) / 1e9
    r.phase("set-up")
    r.probes.foreach(_.resetHeapPeak())
    r.measuring = true
    (1 to passes(r.seconds)).foreach(_ => pass(rnd.shuffle(Queries)))
    r.measuring = false
    r.phase("measured")
    val perQuery = Queries.map { q =>
      q -> Stats.median(r.samples.filter(s => s.measured && s.kind == q).map(_.ms).toSeq)
    }
    val sizes = Seq("documents" -> Docs.toString, "embeddings" -> Vecs.toString,
      "corpus_bytes" -> r.treeBytes(dir).toString, "corpus_seed" -> Corpus.Seed.toString)
    Outcome(setupSeconds, sizes,
      extra = Seq(
        ("corpus_write_s", corpusSeconds, "s"),
        ("pipeline_s", perQuery.map(_._2).sum / 1000, "s"),
        ("pipeline_geomean_s", Stats.geomean(perQuery.map(_._2)) / 1000, "s")),
      layers = perQuery.map { case (q, ms) => (s"pipeline.${q}_s", ms / 1000, "s") })
  }

  /** Pin mode: runs every query once, writes each result as parquet
    * under `out` for the DuckDB cross-check, and returns the pins.
    */
  def pin(spark: SparkSession, workDir: String, out: String): Seq[(String, Long, Long, String)] = {
    val dir = s"$workDir/corpus_pin"
    Corpus.write(spark, dir, Docs, Vecs)
    Queries.map { q =>
      val (n, h) = execute(spark, q, dir)
      query(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q")
      (q, n, h, fullName(q))
    }
  }
}
