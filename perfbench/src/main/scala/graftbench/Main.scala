package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.tableformat.FileIO

/** Benchmark entry point, normally started by `run.py`:
  *
  * {{{
  * graftbench.Main --workload serve|pipeline --seed N
  *     --seconds S --trace 0|1 --work DIR --pins FILE --benchmark FILE
  * graftbench.Main --pin-out DIR --work DIR
  * }}}
  *
  * Prints a human-readable summary, then one JSON line with the
  * end-to-end metrics (untraced run) or the per-layer metrics (traced
  * run). Exits 1 if any answer was wrong.
  */
object Main {

  val Layers: Seq[String] =
    Seq("bench", "api", "catalog", "engine", "tableformat", "pipeline", "action", "spark")

  /** The per-layer metrics `BENCHMARK.json` lists, with their units:
    * every traced run prints each of them.
    */
  private def listedLayerMetrics(path: String): Seq[(String, String)] = {
    implicit val formats: Formats = DefaultFormats
    (JsonMethods.parse(Files.readString(Paths.get(path))) \ "per_layer")
      .extract[List[Map[String, String]]].map(m => m("name") -> m("unit"))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a.getOrElse("work", sys.error("--work DIR is required"))
    Files.createDirectories(Paths.get(work))
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]")
      .config("spark.graft.warehouse", s"$work/warehouse")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    val code =
      try a.get("pin-out") match {
        case Some(out) => pin(spark, work, out)
        case None => bench(spark, a, work, sessionSeconds)
      } finally spark.stop()
    sys.exit(code)
  }

  private def pin(spark: SparkSession, work: String, out: String): Int = {
    val pins = PipelineRun.pin(spark, work, out)
    val oracles = graft.SparkEntry.oracleSql
    val json = pins.map { case (q, n, h, full) =>
      q -> JObject("rows" -> JLong(n), "hash" -> JLong(h), "query" -> JString(full),
        "oracle_sql" -> oracles.get(full).map(JString(_)).getOrElse(JNull))
    }
    Files.writeString(Paths.get(out, "pins.json"),
      JsonMethods.pretty(JObject(json.toList)))
    0
  }

  private def bench(spark: SparkSession, a: Map[String, String], work: String,
      sessionSeconds: Double): Int = {
    val workload = a("workload")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val r = new Runner(spark, seed, seconds, traced, s"$work/$workload-$seed")
    if (traced) {
      Trace.on = true
      FileIO.install(new CountingFileIO)
      r.probes.foreach(_.install())
    }
    val out = workload match {
      case "serve"     => Serve.run(r)
      case "pipeline"  => PipelineRun.run(r, loadPins(a("pins")))
      case other       => sys.error(s"unknown workload $other")
    }
    val measured = r.samples.filter(_.measured).toSeq
    val reads = measured.filter(_.cls == "read").map(_.ms)
    val kinds = measured.groupBy(_.kind).map { case (k, s) => k -> Stats.median(s.map(_.ms)) }
    val (tailMs, tailPct) = Stats.tail(reads, kinds.values.max)
    val e2e = Seq(
      ("setup_s", out.setupSeconds, "s"),
      ("read_p50_ms", Stats.median(reads), "ms"),
      ("read_tail_ms", tailMs, "ms"),
      ("ops_per_s", measured.size / (measured.map(_.ms).sum / 1000), "1/s"),
      ("kinds_geomean_ms", Stats.geomean(kinds.values.toSeq), "ms"),
      ("kinds_sum_s", kinds.values.sum / 1000, "s"))
    val failRatio = r.failures.size.toDouble / r.attempted

    println(s"# graft benchmark: workload=$workload seed=$seed seconds=$seconds " +
      s"trace=${if (traced) 1 else 0} cores=${Runtime.getRuntime.availableProcessors()}")
    println(f"# session start ${sessionSeconds}%.3f s; set-up ${out.setupSeconds}%.3f s")
    println(s"# ${measured.size} measured operations (${reads.size} reads; " +
      s"read_tail_ms is ${tailPct.fold("the slowest kind's median")(p => s"p$p")}); " +
      s"${r.attempted} operations and checks attempted")
    val unmeasured = r.samples.filterNot(_.measured).map(_.ms).sum / 1000
    println(f"# time in operations: ${measured.map(_.ms).sum / 1000}%.1f s measured, " +
      f"$unmeasured%.1f s set-up and warmup")
    println("# timeline: " + r.phases.map { case (n, t) => f"$n $t%.1f s" }.mkString(", "))
    out.sizes.foreach { case (k, v) => println(s"# size $k = $v") }
    kinds.toSeq.sortBy(_._1).foreach { case (k, ms) =>
      val first = r.samples.find(_.kind == k).map(_.ms).getOrElse(Double.NaN)
      println(f"# kind $k%-20s median $ms%10.2f ms  n=${measured.count(_.kind == k)}%-3d first $first%10.2f ms") }
    (e2e ++ out.extra :+ (("fail_ratio", failRatio, "ratio"))).foreach { case (n, v, u) =>
      println(f"# metric $n%-24s $v%14.4f $u") }
    r.failures.take(20).foreach(f => println(s"# FAILED: $f"))

    val metrics =
      if (!traced) e2e.map { case (n, v, u) => n -> (v, u) }
      else {
        val layers = layerMetrics(r, out, reads)
        a.get("report").foreach(p => writeReport(p, workload, seed, layers))
        layers.foreach { case (n, (v, u)) => println(f"# layer $n%-36s $v%14.4f $u") }
        val byName = layers.toMap
        listedLayerMetrics(a("benchmark")).map { case (n, u) =>
          n -> byName.getOrElse(n, (0.0, u)) }
      }
    val json = JObject(
      "correct" -> JBool(r.failures.isEmpty),
      "attempted" -> JInt(r.attempted),
      "failed" -> JInt(r.failures.size),
      "metrics" -> JObject(metrics.toList.map { case (n, (v, u)) =>
        n -> JObject("value" -> JDouble(v), "unit" -> JString(u)) }))
    println(JsonMethods.compact(json))
    if (r.failures.isEmpty) 0 else 1
  }

  private def loadPins(path: String): Map[String, (Long, Long)] = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(Paths.get(path)))
    (j \ "queries").extract[Map[String, JValue]].map { case (q, v) =>
      q -> ((v \ "rows").extract[Long], (v \ "hash").extract[Long]) }
  }

  /** Every per-layer figure of the traced run: per-operation means of
    * the counters (write-side table-format counters per commit), medians
    * of the spans by name, and self time per layer as a share of
    * operation time.
    */
  private def layerMetrics(r: Runner, out: Outcome, reads: Seq[Double])
      : Seq[(String, (Double, String))] = {
    val ops = r.measuredOps
    val n = math.max(ops.size, 1).toDouble
    def perOp(name: String) = Trace.total(name, ops) / n
    // writes happen only in commits, which serve makes during set-up
    val commitOps = r.samples.filter(_.cls == "commit").map(_.op).toSet
    def perCommit(name: String) =
      Trace.total(name, commitOps) / math.max(commitOps.size, 1)
    val spans = Trace.allSpans
    def medians(pool: Seq[Span]): Seq[(String, Double)] =
      pool.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
        name -> Stats.median(ss.map(s => (s.endNs - s.startNs) / 1e6))
      }
    def spanMedians(prefix: String): Seq[(String, Double)] =
      medians(spans.filter(s => s.name.startsWith(prefix) && ops.contains(s.op)))
    val probes = math.max(Trace.total("engine.prune_probes", ops), 1.0)
    val self = Trace.selfTimes(ops)
    val opNs = spans.filter(s => ops.contains(s.op) && s.layer == "bench")
      .map(s => s.endNs - s.startNs).sum.toDouble
    val endSize = out.sizes.toMap
    def size(k: String) = endSize.get(s"end_$k").map(_.toDouble).getOrElse(0.0)
    // every commit is part of serve's set-up, outside the measured phase
    val commitSpans = medians(spans.filter(s =>
      s.name.startsWith("catalog.dml.") || s.name == "engine.maintain"))
    val base: Seq[(String, (Double, String))] =
      CountingFileIO.counterNames.map { c =>
        val v = if (CountingFileIO.commitSide(c)) perCommit(s"tableformat.$c")
          else perOp(s"tableformat.$c")
        s"tableformat.$c" -> (v, if (c.endsWith("bytes")) "bytes" else "count")
      } ++
      Seq("spark.jobs", "spark.stages", "spark.tasks", "codegen.compiles",
        "exec.exchanges").map(c => c -> (perOp(c), "count")) ++
      Seq("spark.input_bytes", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "api.json_bytes")
        .map(c => c -> (perOp(c), "bytes")) ++
      Seq("spark.task_ms", "spark.task_cpu_ms", "catalyst.analysis_ms",
        "catalyst.optimization_ms", "catalyst.planning_ms", "codegen.compile_ms",
        "jvm.gc_ms").map(c => c -> (perOp(c), "ms")) ++
      Seq(
        "tableformat.io_ms" -> (perOp("tableformat.io_ns") / 1e6, "ms"),
        "api.rows_returned" -> (perOp("api.rows_returned"), "count"),
        "jvm.heap_peak_mb" -> (r.probes.map(_.heapPeakMb).getOrElse(0.0), "MB"),
        "engine.files_planned" -> (Trace.total("engine.files_planned", ops) / probes, "count"),
        "engine.prune_ratio" -> (Trace.total("engine.prune_ratio", ops) / probes, "ratio"),
        "engine.data_files" -> (size("data_files"), "count"),
        "engine.delete_files" -> (size("delete_files"), "count"),
        "engine.snapshots" -> (size("snapshots"), "count"),
        "traced.read_p50_ms" -> (Stats.median(reads), "ms")) ++
      spanMedians("api.").map { case (k, v) => s"api.ms.${k.stripPrefix("api.")}" -> (v, "ms") } ++
      spanMedians("catalog.sql_build").map { case (_, v) => "catalog.sql_build_ms" -> (v, "ms") } ++
      Seq("engine.load", "engine.meta", "engine.read_build", "engine.candidate_files")
        .flatMap(p => spanMedians(p).map { case (_, v) => s"${p}_ms" -> (v, "ms") }) ++
      commitSpans.map { case (k, v) =>
        s"engine.commit_ms.${k.stripPrefix("catalog.dml.").stripPrefix("engine.")}" -> (v, "ms") } ++
      Layers.map(l => s"self_ms.$l" -> (self.getOrElse(l, 0L) / 1e6 / n, "ms")) ++
      Layers.map(l => s"self_share.$l" ->
        (if (opNs > 0) 100.0 * self.getOrElse(l, 0L) / opNs else 0.0, "%"))
    val fromWorkload = out.layers.map { case (k, v, u) => k -> (v, u) }
    val names = fromWorkload.map(_._1).toSet
    base.filterNot { case (k, _) => names.contains(k) } ++ fromWorkload
  }

  private def writeReport(path: String, workload: String, seed: Long,
      layers: Seq[(String, (Double, String))]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, JsonMethods.pretty(JObject(
      "workload" -> JString(workload), "seed" -> JLong(seed),
      "layers" -> JObject(layers.toList.map { case (n, (v, u)) =>
        n -> JObject("value" -> JDouble(v), "unit" -> JString(u)) }))))
    val w = Files.newBufferedWriter(Paths.get(path.stripSuffix(".json") + ".spans.jsonl"))
    try Trace.dumpJsonLines(w) finally w.close()
  }
}
