package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.api.{ColumnResolver, Serving}
import graft.catalog.GraftCatalog

/** Serving-edge endpoints over catalog tables, replaying the
  * reference's employee golden history (FIXTURES A2: create -> insert
  * -> rename Phone -> queries by old name keep working).
  */
class CatalogServingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshCat() = new GraftCatalog(spark,
    Files.createTempDirectory("graft-wh").toString)

  private def employeeTable(cat: GraftCatalog) = {
    import spark.implicits._
    val t = cat.createTable("employee_db", "employee",
      Seq("Index" -> "long", "First Name" -> "string", "Phone" -> "string"))
    t.append(Seq((1L, "Alice", "555-1"), (2L, "Bob", "555-2"))
      .toDF("Index", "First Name", "Phone"))
    t.renameColumn("Phone", "Phone number")
    t
  }

  test("serving: getColumn fast path, history slow path, 404s") {
    val cat = freshCat()
    val t = employeeTable(cat)
    // fast path (current name)
    val Serving.Ok(cur) = Serving.getColumn(t, "Phone number"): @unchecked
    assert(cur.size == 2 && cur.forall(_.contains("Phone number")))
    // slow path: historical name resolves via field-id (apiv15.py:182-207)
    val Serving.Ok(hist) = Serving.getColumn(t, "Phone"): @unchecked
    assert(hist.size == 2)
    assert(Serving.getColumn(t, "Fax").isInstanceOf[Serving.NotFound])
    val Serving.Ok(all) = Serving.getTable(t): @unchecked
    assert(all.size == 2)
  }

  test("serving: fuzzy resolver (H5) — match, ambiguous, no-match") {
    val cat = freshCat()
    val t = employeeTable(cat)
    // typo within distance
    val Serving.Ok(_) = Serving.getColumnFuzzy(t, "phone_number"): @unchecked
    assert(Serving.getColumnFuzzy(t, "zzzzzz").isInstanceOf[Serving.NotFound])
    // ambiguity: two equally-near candidates
    import spark.implicits._
    val t2 = cat.createTable("db2", "amb",
      Seq("col_a" -> "long", "col_b" -> "long"))
    t2.append(Seq((1L, 2L)).toDF("col_a", "col_b"))
    assert(Serving.getColumnFuzzy(t2, "col_x").isInstanceOf[Serving.BadRequest])
    assert(ColumnResolver.levenshtein("kitten", "sitting") == 3)
  }

  test("serving: positional (H3), key filter, snapshot, history") {
    val cat = freshCat()
    val t = employeeTable(cat)
    // position 1 = "First Name" whatever it is currently called
    val Serving.Ok(byPos) = Serving.getColumnByPosition(t, 1): @unchecked
    assert(byPos.forall(_.contains("First Name")))
    val Serving.Ok(row) = Serving.getRowsByKey(t, "Index", 2L): @unchecked
    assert(row.size == 1 && row.head.contains("Bob"))
    val Serving.Ok(hist) = Serving.getHistory(t): @unchecked
    assert(hist.size == 1) // one append
    // getSnapshot reads a date as the end of that day in UTC, so
    // "today" is the UTC date whatever the JVM's default zone
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    val Serving.Ok(snap) = Serving.getSnapshot(t, today): @unchecked
    assert(snap.size == 2)
    assert(Serving.getSnapshot(t, "junk").isInstanceOf[Serving.BadRequest])
    // stats endpoint: one JSON record per column, manifest-only
    val Serving.Ok(stats) = Serving.getStats(t): @unchecked
    assert(stats.size == t.meta.currentSchema.fields.size)
    assert(stats.exists(r => r.contains("\"col_name\":\"Index\"") &&
      r.contains("\"record_count\":2")))
  }

  test("serving: getSnapshot accepts ISO-8601 timestamps with a zone " +
      "offset or Z, equal to their UTC form") {
    import spark.implicits._
    import java.time.{Instant, ZoneOffset}
    import java.time.format.DateTimeFormatter
    val cat = freshCat()
    val t = cat.createTable("db", "zoned", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val first = Instant.ofEpochMilli(t.meta.currentSnapshot.get.timestampMs)
    Thread.sleep(5)
    t.append(Seq(3L).toDF("id"))
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    def at(zone: ZoneOffset) = first.atOffset(zone).format(fmt)
    val Serving.Ok(utc) = Serving.getSnapshot(t, at(ZoneOffset.UTC)): @unchecked
    assert(utc.sorted == Seq("{\"id\":1}", "{\"id\":2}"))
    for (zoned <- Seq(
        at(ZoneOffset.UTC).replace(" ", "T") + "Z",
        at(ZoneOffset.ofHours(2)) + "+02:00",
        at(ZoneOffset.ofHours(-5)).replace(" ", "T") + "-05:00")) {
      val Serving.Ok(rows) = Serving.getSnapshot(t, zoned): @unchecked
      assert(rows.sorted == utc.sorted, zoned)
    }
    assert(Serving.getSnapshot(t, "junk").isInstanceOf[Serving.BadRequest])
    assert(Serving.getSnapshot(t, "2026-10-18T10:00:00+25:00")
      .isInstanceOf[Serving.BadRequest])
  }

  test("serving: jsonRecords equals toJSON byte for byte; manifest-only " +
      "endpoints run no Spark job, data endpoints one") {
    import spark.implicits._
    // every JSON-encodable type, odd column names included. Interval
    // columns are left out: parquet cannot store them, and toJSON's Row
    // round trip prints INTERVAL '1' DAY as DAY TO SECOND where to_json
    // keeps the declared fields, so the two are not a reference for
    // each other there.
    val typed = spark.sql("""SELECT
        id AS `int col`,
        CAST(id AS DOUBLE) / 3 AS `a.b`,
        CAST(id AS FLOAT) / 7 AS `it's`,
        CAST(id AS DECIMAL(12, 3)) / 8 AS dec,
        CASE WHEN id % 2 = 0 THEN 'x"y\\z' END AS s,
        id % 2 = 0 AS b,
        date_add(DATE'2024-02-28', CAST(id AS INT)) AS d,
        TIMESTAMP'2024-03-10 01:59:59.123456' + make_interval(0, 0, 0, 0, id) AS ts,
        TIMESTAMP_NTZ'2024-03-10 02:30:00' AS ntz,
        CAST(CONCAT('b', id) AS BINARY) AS bin,
        NULL AS nothing,
        CASE WHEN id = 1 THEN CAST('NaN' AS DOUBLE) ELSE 1.5 END AS nan,
        array(id, NULL, id + 1) AS arr,
        map('k', id, 'n', NULL) AS m,
        named_struct('x', id, 'y', CAST(NULL AS STRING), 'z', array('q')) AS st
      FROM range(4)""")
    assert(Serving.jsonRecords(typed) == typed.toJSON.collect().toSeq)
    val dir = Files.createTempDirectory("graft-json").toString + "/p"
    typed.drop("nothing").write.parquet(dir)
    val scanned = spark.read.parquet(dir)
    assert(scanned.count() == 4)
    assert(Serving.jsonRecords(scanned) == scanned.toJSON.collect().toSeq)

    // every metadata frame of a merge-on-read table with live deletes
    val cat = freshCat()
    val mor = cat.createTable("db", "mor",
      Seq("id" -> "long", "name" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    mor.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    mor.delete(col("id") === 2L)
    mor.createTag("v1")
    assert(mor.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    for ((name, df) <- Seq("history" -> mor.history,
        "snapshots" -> mor.snapshotsDf, "files" -> mor.filesDf,
        "stats" -> mor.statsDf, "refs" -> mor.refs,
        "delete_files" -> mor.deleteFilesDf, "entries" -> mor.entriesDf,
        "metadata_log_entries" -> mor.metadataLogEntries)) {
      val want = df.toJSON.collect().toSeq
      assert(want.nonEmpty, name)
      assert(Serving.jsonRecords(df) == want, name)
    }

    // job counts, with the listener bus drained around each call
    val t = employeeTable(cat)
    def jobs(body: => Serving.Result): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        assert(body.isInstanceOf[Serving.Ok])
        org.apache.spark.ListenerDrain(spark.sparkContext)
        n.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    assert(jobs(Serving.getHistory(t)) == 0)
    assert(jobs(Serving.getStats(t)) == 0)
    assert(jobs(Serving.getRowsByKey(t, "Index", 2L)) == 1)
    assert(jobs(Serving.getColumn(t, "Phone")) == 1)
  }

  test("serving: getRowsByKey reads a pruned file set with a key bound " +
      "in the column's own type; new keys compile nothing") {
    import spark.implicits._
    import graft.engine.GraftTable
    val cat = freshCat()
    val t = cat.createTable("db", "keyed",
      Seq("k" -> "long", "small" -> "int", "v" -> "string"))
    (0 until 4).foreach(i => t.append((i * 10L until i * 10L + 10L)
      .map(k => (k, k.toInt, s"v$k")).toDF("k", "small", "v").coalesce(1)))
    def viaFilter(name: String, key: Long) =
      t.read().filter(col(s"`$name`") === key).toJSON.collect().toSeq
    val cand = t.candidateFiles(col("k") === 23L).size
    assert(cand == 1)
    GraftTable.lastPrunedReadFiles.set(-1L)
    val Serving.Ok(rows) = Serving.getRowsByKey(t, "k", 23L): @unchecked
    assert(rows == viaFilter("k", 23L) && rows.size == 1)
    val planned = GraftTable.lastPrunedReadFiles.get()
    assert(planned >= 0L && planned <= cand, s"planned $planned files")
    // a second, different key reuses the generated code
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val Serving.Ok(rows2) = Serving.getRowsByKey(t, "k", 37L): @unchecked
    assert(compiles.getCount == before, "a new key compiled code")
    assert(rows2 == viaFilter("k", 37L) && rows2.size == 1)
    // the key binds to the column's own type: an int column matches
    // in range and is NotFound beyond it
    val Serving.Ok(small) = Serving.getRowsByKey(t, "small", 7L): @unchecked
    assert(small == viaFilter("small", 7L) && small.size == 1)
    assert(Serving.getRowsByKey(t, "small", 1L << 40)
      .isInstanceOf[Serving.NotFound])
    // renamed key column: the old name still serves, same rows
    t.renameColumn("k", "key")
    val Serving.Ok(renamed) = Serving.getRowsByKey(t, "k", 23L): @unchecked
    assert(renamed == viaFilter("key", 23L) && renamed.size == 1)
    val Serving.Ok(current) = Serving.getRowsByKey(t, "key", 23L): @unchecked
    assert(current == renamed)
    assert(Serving.getRowsByKey(t, "nope", 1L).isInstanceOf[Serving.NotFound])
    assert(Serving.getRowsByKey(t, "k", 99L) == Serving.Ok(Nil))
  }

  test("H4: schema evolution records provenance properties") {
    val cat = freshCat()
    val t = employeeTable(cat)
    t.addColumn("Email", "string")
    val props = t.meta.properties
    assert(props.exists { case (k, v) =>
      k.startsWith("graft.schema-log.") && v.contains("rename-column Phone") })
    assert(props.exists { case (_, v) => v.contains("add-column Email") })
  }
}
