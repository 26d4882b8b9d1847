package graftbench

import graft.api.Serving
import graft.engine.GraftTable

/** `serve`: read-only requests against a frozen table with history.
  *
  * Set-up builds `db.orders` from the generated orders through
  * `GraftCatalog.createTableAs` (merge-on-read, `year(o_orderdate)`),
  * then applies a seeded history through native SQL: a round of
  * `INSERT`, `MERGE INTO` (500 source rows, half existing keys),
  * `DELETE FROM` and `UPDATE` over 100-key ranges, a column rename after
  * the MERGE, and one `maintain()`. The table is frozen after set-up.
  * These are the benchmark's only commits: they are timed as part of
  * `setup_s` and, per kind, in the traced run. The table is built once
  * per run: a second build in the same JVM would be warm (compiled
  * plans, JIT), so `setup_s` is the cold build a fresh process pays.
  *
  * Requests are a closed loop on one client thread. Each pass issues a
  * fixed mix in seeded order with seeded parameters: 30% keyed reads,
  * 15% column reads by the pre-rename name, 10% fuzzy column reads, 15%
  * snapshot reads at a historic time, 10% stats, 10% history and 10%
  * native SQL point queries, half of them `VERSION AS OF`.
  */
object Serve {
  val Rows = 5000
  val WarmupPasses = 1
  val Mix: Vector[String] =
    Vector.fill(6)("getRowsByKey") ++ Vector.fill(3)("getColumn") ++
      Vector.fill(2)("getColumnFuzzy") ++ Vector.fill(3)("getSnapshot") ++
      Vector.fill(2)("getStats") ++ Vector.fill(2)("getHistory") ++
      Vector("sql_point", "sql_version_as_of")
  /** Misspelled column names and the column each resolves to. */
  val Typos: Vector[(String, String)] = Vector("o_custky" -> "o_custkey",
    "o_totlprice" -> "o_totalprice")
  /** Historic times and versions asked for, spread evenly over the
    * history. With the default two measured passes each rotation below
    * completes a whole number of times in the measured phase.
    */
  val SnapshotTargets = 6
  val VersionTargets = 2

  def passes(seconds: Int): Int = math.max(1, math.round(seconds / 5.0).toInt)

  /** Builds the table; returns it with the number of data files its
    * `maintain()` rewrote.
    */
  def build(r: Runner): (OrdersTable, Int) = {
    val rnd = new scala.util.Random(r.seed)
    val tbl = new OrdersTable(r, "orders", Orders.initial(rnd, Rows), rnd)
    tbl.create()
    tbl.append(500)
    tbl.merge(500)
    tbl.renamePriority("o_priority")
    tbl.delete(100)
    tbl.update(100)
    // time travel needs the whole history, so nothing is expired
    (tbl, tbl.maintain(keepLast = 1000))
  }

  def run(r: Runner): Outcome = {
    val t0 = System.nanoTime()
    val (tbl, rewritten) = build(r)
    val setupSeconds = (System.nanoTime() - t0) / 1e9
    r.phase("set-up")
    val commits = r.samples.filter(_.cls == "commit").map(_.ms).toSeq
    tbl.verifyFull("serve table after set-up")
    val start = tbl.sizes("start")
    val req = new Requests(r, tbl, new scala.util.Random(r.seed * 31 + 7))
    (1 to WarmupPasses).foreach(_ => req.pass())
    r.phase("warmup")
    r.probes.foreach(_.resetHeapPeak())
    r.measuring = true
    (1 to passes(r.seconds)).foreach(_ => req.pass())
    r.measuring = false
    r.phase("measured")
    val end = tbl.sizes("end")
    Outcome(setupSeconds, start ++ end,
      extra = Seq(("setup_commit_p50_ms", Stats.median(commits), "ms")),
      layers = Seq(("engine.maintain_files_rewritten", rewritten.toDouble, "count")))
  }

  private final class Requests(r: Runner, tbl: OrdersTable,
      rnd: scala.util.Random) {
    import OrdersTable._
    private val model = tbl.model
    private val maxKey = model.current.keys.max
    // Parameters that change how much a request returns rotate through
    // a fixed set from a seeded offset, so every run asks for the same
    // mix of payloads and only their order and keys follow the seed.
    private val calls = Vector.tabulate(SnapshotTargets)(i => i * tbl.calls.size / SnapshotTargets)
    private val versions = {
      val vs = tbl.snapshotOf.keys.toVector.sorted
      Vector.tabulate(VersionTargets)(i => vs(i * vs.size / VersionTargets))
    }
    private var fuzzy = rnd.nextInt(Typos.size)
    private var snap = rnd.nextInt(calls.size)
    private var ver = rnd.nextInt(versions.size)
    private def next(i: Int, n: Int): Int = (i + 1) % n

    def pass(): Unit = rnd.shuffle(Mix).foreach(request)

    private def load(): GraftTable = Trace.span("engine.load", "engine")(tbl.table)

    private def values(res: Serving.Result, field: String): Either[String, Seq[String]] =
      res match {
        case Serving.Ok(rows) => Right(rows.map { j =>
          val i = j.indexOf(s""""$field":""")
          if (i < 0) "" else j.substring(i + field.length + 3).stripSuffix("}")
            .stripPrefix("\"").stripSuffix("\"")
        })
        case other => Left(s"endpoint returned $other")
      }

    private def request(kind: String): Unit = kind match {
      case "getRowsByKey" =>
        tbl.readKey(kind, rnd.nextLong(maxKey + 1), model.current)

      case "getColumn" =>
        r.op(kind, "read") {
          val t = load()
          api("getColumn")(Serving.getColumn(t, "o_orderpriority"))
        } { res =>
          values(res, "o_priority").fold(Some(_), vs => {
            val exp = model.current.valuesIterator.map(o => Orders.crc(o.priority)).sum
            val got = vs.iterator.map(Orders.crc).sum
            if (vs.size == model.current.size && got == exp) None
            else Some(s"${vs.size} values (crc sum $got), expected ${model.current.size} ($exp)")
          })
        }

      case "getColumnFuzzy" =>
        fuzzy = next(fuzzy, Typos.size)
        val (typo, column) = Typos(fuzzy)
        r.op(kind, "read") {
          val t = load()
          api("getColumnFuzzy")(Serving.getColumnFuzzy(t, typo))
        } { res =>
          values(res, column).fold(Some(_), vs => {
            val (got, exp) = column match {
              case "o_custkey" =>
                (vs.map(_.toLong).sum, model.current.valuesIterator.map(_.cust).sum)
              case _ =>
                (vs.map(v => math.round(v.toDouble * 100)).sum,
                  model.current.valuesIterator.map(_.cents).sum)
            }
            if (vs.size == model.current.size && got == exp) None
            else Some(s"$typo: ${vs.size} values sum $got, expected ${model.current.size} sum $exp")
          })
        }

      case "getSnapshot" =>
        snap = next(snap, calls.size)
        val i = calls(snap)
        val at =
          if (i + 1 < tbl.calls.size) (tbl.calls(i)._2 + tbl.calls(i + 1)._1) / 2
          else tbl.calls(i)._2 + 1
        val v = tbl.calls(i)._3
        val text = java.time.Instant.ofEpochMilli(at).toString
          .stripSuffix("Z").replace("T", " ")
        r.op(kind, "read") {
          val t = load()
          api("getSnapshot")(Serving.getSnapshot(t, text))
        } {
          case Serving.Ok(rows) =>
            val got = checksumRows(rows)
            if (got == model.checksum(v)) None
            else Some(s"as of $text: rows/hash $got, expected ${model.checksum(v)}")
          case other => Some(s"as of $text: $other")
        }

      case "getStats" =>
        r.op(kind, "read") {
          api("getStats")(Serving.getStats(load()))
        } {
          case Serving.Ok(rows) =>
            val key = rows.find(_.contains("\"col_name\":\"o_orderkey\""))
            val count = key.flatMap(j => """"record_count":(\d+)""".r
              .findFirstMatchIn(j).map(_.group(1).toLong))
            if (rows.size != 6) Some(s"${rows.size} stats rows, expected 6")
            else if (count.exists(_ != model.current.size))
              Some(s"record_count $count, expected ${model.current.size}")
            else None
          case other => Some(other.toString)
        }

      case "getHistory" =>
        r.op(kind, "read") {
          api("getHistory")(Serving.getHistory(load()))
        } {
          case Serving.Ok(rows) =>
            val need = tbl.snapshotOf.values.toSet.size
            if (rows.size >= need) None
            else Some(s"${rows.size} history rows, expected at least $need")
          case other => Some(other.toString)
        }

      case "sql_point" | "sql_version_as_of" =>
        val key = rnd.nextLong(maxKey + 1)
        val versioned = kind == "sql_version_as_of"
        if (versioned) ver = next(ver, versions.size)
        val v = if (versioned) versions(ver) else model.version
        val asOf = if (versioned) s" VERSION AS OF ${tbl.snapshotOf(v)}" else ""
        val text = s"SELECT * FROM ${tbl.sqlName}$asOf WHERE o_orderkey = $key"
        r.op(kind, "read") {
          val df = Trace.span("catalog.sql_build", "catalog")(r.spark.sql(text))
          Trace.span("action.collect", "action")(df.collect())
        } { rows =>
          val got = rows.toSeq.map(rowOf)
          val exp = model.at(v).get(key).toSeq
          if (got == exp) None else Some(s"$text: got $got, expected $exp")
        }
    }
  }
}
