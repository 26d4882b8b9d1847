package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.api.Serving
import graft.catalog.GraftCatalog
import graft.engine.GraftTable

/** A merge-on-read `orders` table partitioned by `year(o_orderdate)`,
  * driven through native SQL on the `graft` catalog, next to the
  * benchmark's model of what it must contain.
  */
final class OrdersTable(r: Runner, val name: String, init: Vector[Order],
    rnd: scala.util.Random) {
  import OrdersTable._

  private val catalog = new GraftCatalog(r.spark, s"${r.workDir}/warehouse")
  val sqlName = s"graft.db.$name"
  def location: String = catalog.location("db", name)
  val model = new OrdersModel(init)
  var priorityCol = "o_orderpriority"
  private var nextKey = init.size.toLong
  private var nextDay = Orders.LastDay

  /** Calls that may have committed, as (start ms, end ms, model version
    * after the call): time-travel requests pick times between them. The
    * version is stamped once the model has applied the call.
    */
  val calls = mutable.ArrayBuffer[(Long, Long, Int)]()
  /** Snapshot id graft assigned to each model version. */
  val snapshotOf = mutable.Map[Int, Long]()

  def table: GraftTable = GraftTable.load(r.spark, location)

  private def call[T](f: => T): T = {
    val start = System.currentTimeMillis()
    val v = f
    calls += ((start, System.currentTimeMillis(), model.version))
    // a gap between calls, so every picked time falls strictly between
    // two commits
    Thread.sleep(3)
    v
  }

  /** Stamps the last call with the model version it produced. */
  private def afterCommit(): Unit = {
    val (start, end, _) = calls.last
    calls(calls.size - 1) = (start, end, model.version)
    table.meta.currentSnapshotId.foreach(snapshotOf(model.version) = _)
  }

  def create(): GraftTable = {
    val t = call {
      catalog.createTableAs("db", name, Orders.df(r.spark, init),
        Seq("o_orderdate" -> "year"))
    }
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    afterCommit()
    t
  }

  private def newOrders(n: Int): Vector[Order] = Vector.fill(n) {
    val o = Orders.make(rnd, nextKey, nextDay)
    nextKey += 1
    if (rnd.nextInt(50) == 0) nextDay += 1
    o
  }

  private def view(rows: Seq[Order]): String = {
    val v = s"src_${name}_${model.version}"
    Orders.df(r.spark, rows).withColumnRenamed("o_orderpriority", priorityCol)
      .createOrReplaceTempView(v)
    v
  }

  private def dml(kind: String)(text: => String): Unit =
    r.op(kind, "commit") {
      call(Trace.span(s"catalog.dml.$kind", "catalog")(r.spark.sql(text)))
    }(_ => None)

  /** Appends `n` new orders. */
  def append(n: Int): Unit = {
    val rows = newOrders(n)
    val v = view(rows)
    dml("append")(s"INSERT INTO $sqlName SELECT * FROM $v")
    model.commit(model.current ++ rows.map(o => o.key -> o))
    afterCommit()
  }

  /** MERGE of `n` source rows, half of them existing keys. */
  def merge(n: Int): Unit = {
    val live = model.current.keysIterator.toVector
    val existing = Vector.fill(n / 2)(live(rnd.nextInt(live.size))).distinct
      .map(k => model.current(k).copy(status = Orders.Statuses(rnd.nextInt(3)),
        cents = 100000L + rnd.nextInt(40000000)))
    val fresh = newOrders(n - existing.size)
    val v = view(existing ++ fresh)
    dml("merge")(
      s"""MERGE INTO $sqlName t USING $v s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice,
         |  t.o_orderstatus = s.o_orderstatus
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    model.commit(model.current ++ (existing ++ fresh).map(o => o.key -> o))
    afterCommit()
  }

  private def range(width: Int): (Long, Long) = {
    val a = rnd.nextLong(math.max(1L, nextKey - width))
    (a, a + width - 1)
  }

  /** Deletes a random range of `width` keys. */
  def delete(width: Int): Unit = {
    val (a, b) = range(width)
    dml("delete")(s"DELETE FROM $sqlName WHERE o_orderkey >= $a AND o_orderkey <= $b")
    model.commit(model.current.filter { case (k, _) => k < a || k > b })
    afterCommit()
  }

  /** Updates priority and price over a random range of `width` keys. */
  def update(width: Int): Unit = {
    val (a, b) = range(width)
    dml("update")(
      s"""UPDATE $sqlName SET $priorityCol = '9-BENCH',
         |  o_totalprice = o_totalprice + 1 WHERE o_orderkey >= $a AND o_orderkey <= $b"""
        .stripMargin)
    val hit = model.current.collect { case (k, o) if k >= a && k <= b =>
      k -> o.copy(priority = "9-BENCH", cents = o.cents + 100) }
    model.commit(model.current ++ hit)
    afterCommit()
  }

  /** Runs `maintain()`; returns how many data files it rewrote. */
  def maintain(keepLast: Int): Int = {
    def files = table.meta.currentSnapshot.map(_.files.map(_.path).toSet)
      .getOrElse(Set.empty)
    val before = files
    r.op("maintain", "commit") {
      call(Trace.span("engine.maintain", "engine")(table.maintain(keepLast = keepLast)))
    }(_ => None)
    afterCommit()
    (before -- files).size
  }

  def renamePriority(to: String): Unit = {
    call(table.renameColumn(priorityCol, to))
    priorityCol = to
  }

  /** Untimed full check: live rows and row-hash sum against the model. */
  def verifyFull(what: String): Unit = r.verify(what) {
    val got = r.spark.table(sqlName)
      .agg(count(lit(1)), sum(Orders.hashCol(priorityCol))).head()
    val exp = model.checksum()
    val gotSum = if (got.isNullAt(1)) 0L else got.getLong(1)
    if (got.getLong(0) == exp._1 && gotSum == exp._2) None
    else Some(s"rows/hash ${got.getLong(0)}/$gotSum, expected ${exp._1}/${exp._2}")
  }

  /** Keyed read through the serving endpoint; checked against `expect`. */
  def readKey(kind: String, key: Long, expect: Map[Long, Order]): Unit = {
    r.op(kind, "read") {
      val t = Trace.span("engine.load", "engine")(table)
      if (Trace.on) probeRead(t, key)
      api("getRowsByKey")(Serving.getRowsByKey(t, "o_orderkey", key))
    }(res => checkRows(res, expect.get(key).toSeq))
  }

  /** Traced runs only: what planning the keyed read costs, measured by
    * building the same read the endpoint builds.
    */
  private def probeRead(t: GraftTable, key: Long): Unit = {
    val cond = col("o_orderkey") === key
    val m = Trace.span("engine.meta", "engine")(t.meta)
    val df = Trace.span("engine.read_build", "engine")(t.read().filter(cond))
    Trace.count("engine.files_planned", df.inputFiles.length.toDouble)
    val all = m.currentSnapshot.map(_.files.size).getOrElse(0)
    val cand = Trace.span("engine.candidate_files", "engine")(t.candidateFiles(cond).size)
    if (all > 0) Trace.count("engine.prune_ratio", cand.toDouble / all)
    Trace.count("engine.prune_probes")
  }

  /** Data files, delete files, snapshots, manifests and bytes on disk. */
  def sizes(prefix: String): Seq[(String, String)] = {
    val m = table.meta
    val s = m.currentSnapshot
    Seq(s"${prefix}_rows" -> model.current.size.toString,
      s"${prefix}_data_files" -> s.map(_.files.size).getOrElse(0).toString,
      s"${prefix}_delete_files" -> s.map(_.deleteFiles.size).getOrElse(0).toString,
      s"${prefix}_snapshots" -> m.snapshots.size.toString,
      s"${prefix}_manifests" -> s.map(_.manifests.size).getOrElse(0).toString,
      s"${prefix}_metadata_docs" -> m.metadataLog.size.toString,
      s"${prefix}_table_bytes" -> r.treeBytes(location).toString)
  }
}

object OrdersTable {
  implicit private val formats: Formats = DefaultFormats

  /** A call into a serving endpoint, with the rows and JSON bytes it
    * returned counted on traced runs.
    */
  def api(name: String)(f: => Serving.Result): Serving.Result = {
    val res = Trace.span(s"api.$name", "api")(f)
    res match {
      case Serving.Ok(rows) =>
        Trace.count("api.rows_returned", rows.size.toDouble)
        Trace.count("api.json_bytes", rows.iterator.map(_.length.toLong).sum.toDouble)
      case _ => ()
    }
    res
  }

  /** Parses an `orders` JSON record (either name of the renamed
    * priority column) back into an [[Order]].
    */
  def parse(json: String): Order = {
    val j = JsonMethods.parse(json)
    val pri = (j \ "o_orderpriority").extractOpt[String]
      .orElse((j \ "o_priority").extractOpt[String]).getOrElse("")
    val day = java.time.LocalDate.parse((j \ "o_orderdate").extract[String]
      .take(10)).toEpochDay.toInt
    Order((j \ "o_orderkey").extract[Long], (j \ "o_custkey").extract[Long],
      (j \ "o_orderstatus").extract[String],
      math.round((j \ "o_totalprice").extract[Double] * 100), day, pri)
  }

  def checkRows(res: Serving.Result, expected: Seq[Order]): Option[String] =
    res match {
      case Serving.Ok(rows) =>
        val got = rows.map(parse).sortBy(_.key)
        val exp = expected.sortBy(_.key)
        if (got == exp) None
        else Some(s"got ${got.take(2)} (${got.size} rows), expected ${exp.take(2)} (${exp.size})")
      case other => Some(s"endpoint returned $other")
    }

  /** (rows, hash sum) of full-row JSON records. */
  def checksumRows(rows: Seq[String]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(s => Orders.hash(parse(s))).sum)

  def rowOf(r: Row): Order = Order(r.getLong(0), r.getLong(1), r.getString(2),
    math.round(r.getDouble(3) * 100),
    (r.getTimestamp(4).getTime / 86400000L).toInt, r.getString(5))
}
