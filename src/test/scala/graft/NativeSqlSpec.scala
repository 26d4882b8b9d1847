package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.GraftCatalog

/** Native SQL over graft tables through the injected Catalyst
  * resolution rule (GraftExtensions): Spark's own parser handles the
  * statement — no text rewriting — including its time-travel syntax.
  */
class NativeSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshCat() = new GraftCatalog(spark,
    Files.createTempDirectory("graft-nwh").toString)

  test("spark.sql and spark.table resolve graft.db.t natively") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "people",
      Seq("id" -> "long", "name" -> "string"))
    t.append(Seq((1L, "ann"), (2L, "bo")).toDF("id", "name"))
    assert(spark.sql("SELECT name FROM graft.db.people ORDER BY id")
      .as[String].collect().toSeq == Seq("ann", "bo"))
    assert(spark.table("graft.db.people").count() == 2)
    // joins + aggregation across two graft tables, pure SQL text
    val t2 = cat.createTable("db", "pets", Seq("owner" -> "long", "pet" -> "string"))
    t2.append(Seq((1L, "cat"), (1L, "dog"), (2L, "eel")).toDF("owner", "pet"))
    val got = spark.sql("""
      SELECT p.name, count(*) AS n
      FROM graft.db.people p JOIN graft.db.pets q ON p.id = q.owner
      GROUP BY p.name ORDER BY p.name""").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("ann", 2L), ("bo", 1L)))
  }

  test("native VERSION AS OF and TIMESTAMP AS OF time travel") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "v", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val snap = t.meta.currentSnapshot.get
    Thread.sleep(5)
    t.append(Seq(3L).toDF("id"))
    assert(spark.sql(
      s"SELECT id FROM graft.db.v VERSION AS OF ${snap.snapshotId} ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    val ts = java.time.Instant.ofEpochMilli(snap.timestampMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace("T", " ")
    assert(spark.sql(
      s"SELECT id FROM graft.db.v TIMESTAMP AS OF '$ts' ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM graft.db.v").head().getLong(0) == 3L)
  }

  test("renamed columns and MoR deletes flow through native SQL") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "emp",
      Seq("Index" -> "long", "Phone" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(Seq((1L, "555-1"), (2L, "555-2"), (3L, "555-3"))
      .toDF("Index", "Phone"))
    t.renameColumn("Phone", "Phone number")
    t.delete(col("Index") === 2L)
    val got = spark.sql(
      "SELECT `Phone number` FROM graft.db.emp ORDER BY `Index`")
      .as[String].collect()
    assert(got.toSeq == Seq("555-1", "555-3"))
  }

  test("SHOW DATABASES / SHOW TABLES go through the catalog plugin") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db_a", "t1", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id"))
    cat.createTable("db_a", "t2", Seq("id" -> "long"))
    cat.createDatabase("db_b")
    val dbs = spark.sql("SHOW DATABASES IN graft").collect().map(_.getString(0))
    assert(dbs.toSet == Set("db_a", "db_b"))
    val tbls = spark.sql("SHOW TABLES IN graft.db_a").collect()
      .map(_.getString(1))
    assert(tbls.toSet == Set("t1", "t2"))
  }

  test("PARTITIONED BY accepts the full transform set in SQL") {
    import spark.implicits._
    val cat = freshCat()
    cat.createDatabase("tf")
    spark.sql("""CREATE TABLE graft.tf.docs (
                |  id BIGINT, domain STRING, added_at TIMESTAMP)
                |PARTITIONED BY (bucket(8, id), truncate(4, domain),
                |                months(added_at))""".stripMargin)
    val t = cat.table("tf", "docs")
    assert(t.meta.currentSpec.fields.map(_.transform) ==
      Vector("bucket(8)", "truncate(4)", "month"))
    spark.sql("""INSERT INTO graft.tf.docs VALUES
      (1, 'example.com', TIMESTAMP'2025-01-03 08:00:00'),
      (2, 'example.org', TIMESTAMP'2025-02-11 09:30:00')""")
    val pv = cat.table("tf", "docs").meta.currentSnapshot.get.files
      .flatMap(_.partitionValues.get("added_at_month")).toSet
    assert(pv == Set("2025-01", "2025-02"))
    assert(spark.sql("SELECT domain FROM graft.tf.docs ORDER BY id")
      .as[String].collect().toSeq == Seq("example.com", "example.org"))
    // round-trips back out through the DSv2 handle (DESCRIBE partitioning)
    val part = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.catalog.GraftNamespaceCatalog]
    // loadTable → partitioning() must not throw and must carry 3 fields
    val h = part.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("tf"), "docs"))
    assert(h.partitioning().length == 3)
  }

  test("SQL DDL lifecycle: CREATE, DESCRIBE, ALTER, DROP") {
    val cat = freshCat()
    cat.createDatabase("ddl")
    spark.sql("""CREATE TABLE graft.ddl.emp (
                |  id BIGINT, name STRING, added_at TIMESTAMP)
                |PARTITIONED BY (days(added_at))
                |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    val t = cat.table("ddl", "emp")
    assert(t.meta.currentSchema.fieldNames == Vector("id", "name", "added_at"))
    assert(t.meta.currentSpec.fields.map(_.transform) == Vector("day"))
    assert(t.meta.properties("write.delete.mode") == "merge-on-read")
    // DESCRIBE through the catalog handle
    val desc = spark.sql("DESCRIBE TABLE graft.ddl.emp").collect()
      .map(_.getString(0))
    assert(desc.contains("id") && desc.contains("added_at"))
    // ALTER: rename + add + drop through Spark's DDL
    spark.sql("ALTER TABLE graft.ddl.emp RENAME COLUMN name TO full_name")
    spark.sql("ALTER TABLE graft.ddl.emp ADD COLUMN age INT")
    spark.sql("ALTER TABLE graft.ddl.emp DROP COLUMN added_at")
    assert(cat.table("ddl", "emp").meta.currentSchema.fieldNames ==
      Vector("id", "full_name", "age"))
    spark.sql("ALTER TABLE graft.ddl.emp SET TBLPROPERTIES ('graft.owner'='me')")
    assert(cat.table("ddl", "emp").meta.properties("graft.owner") == "me")
    spark.sql("DROP TABLE graft.ddl.emp")
    assert(!cat.tableExists("ddl", "emp"))
  }

  test("SQL DML: INSERT INTO VALUES, UPDATE, DELETE, INSERT OVERWRITE") {
    import spark.implicits._
    val cat = freshCat()
    cat.createDatabase("dml")
    spark.sql("CREATE TABLE graft.dml.t3 (id BIGINT, name STRING, age INT)")
    // INSERT INTO ... VALUES (reference cells 11/22/27)
    spark.sql("""INSERT INTO graft.dml.t3 VALUES
                |  (1, 'x', 30), (2, 'y', 40), (3, 'z', 50)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.dml.t3").head().getLong(0) == 3)
    // UPDATE ... SET ... WHERE (reference cell 24)
    spark.sql("UPDATE graft.dml.t3 SET age = 31 WHERE id = 1")
    assert(spark.sql("SELECT age FROM graft.dml.t3 WHERE id = 1")
      .head().getInt(0) == 31)
    // expression assignment referencing columns
    spark.sql("UPDATE graft.dml.t3 SET age = age + 100 WHERE name = 'y'")
    assert(spark.sql("SELECT age FROM graft.dml.t3 WHERE id = 2")
      .head().getInt(0) == 140)
    // DELETE FROM ... WHERE (reference cell 11)
    spark.sql("DELETE FROM graft.dml.t3 WHERE id = 3")
    assert(spark.sql("SELECT id FROM graft.dml.t3 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    // snapshots accumulated: create+insert+2 updates+delete = 4 data ops
    val t = cat.table("dml", "t3")
    assert(t.meta.snapshots.size == 4)
    // INSERT with explicit columns, then INSERT OVERWRITE
    spark.sql("INSERT INTO graft.dml.t3 (id, name, age) VALUES (9, 'w', 1)")
    assert(spark.sql("SELECT count(*) FROM graft.dml.t3").head().getLong(0) == 3)
    spark.sql("INSERT OVERWRITE graft.dml.t3 VALUES (7, 'only', 70)")
    assert(spark.sql("SELECT id, name FROM graft.dml.t3").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "only")))
    // time travel still sees the pre-overwrite generation
    val prev = t.meta.snapshots.takeRight(2).head
    assert(spark.sql(
      s"SELECT count(*) FROM graft.dml.t3 VERSION AS OF ${prev.snapshotId}")
      .head().getLong(0) == 3)
  }

  test("DELETE and UPDATE accept BETWEEN in WHERE, matching the " +
      ">= AND <= form, in both write modes") {
    val cat = freshCat()
    cat.createDatabase("btw")
    def rows(n: String) = spark.sql(s"SELECT id, v FROM graft.btw.$n ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    Seq("copy-on-write", "merge-on-read").zipWithIndex.foreach { case (mode, i) =>
      val (a, b) = (s"a$i", s"b$i")
      Seq(a, b).foreach { n =>
        spark.sql(s"""CREATE TABLE graft.btw.$n (id BIGINT, v STRING)
                     |TBLPROPERTIES ('write.delete.mode'='$mode',
                     |  'write.update.mode'='$mode')""".stripMargin)
        spark.sql(s"""INSERT INTO graft.btw.$n VALUES (1, 'x'), (5, 'x'),
                     |  (10, 'x'), (15, 'x'), (20, 'x'), (25, 'x')""".stripMargin)
      }
      spark.sql(s"UPDATE graft.btw.$a SET v = 'u' WHERE id BETWEEN 10 AND 20")
      spark.sql(s"UPDATE graft.btw.$b SET v = 'u' WHERE id >= 10 AND id <= 20")
      spark.sql(s"DELETE FROM graft.btw.$a WHERE id BETWEEN 1 AND 5")
      spark.sql(s"DELETE FROM graft.btw.$b WHERE id >= 1 AND id <= 5")
      spark.sql(s"DELETE FROM graft.btw.$a WHERE id NOT BETWEEN 1 AND 22")
      spark.sql(s"DELETE FROM graft.btw.$b WHERE NOT (id >= 1 AND id <= 22)")
      assert(rows(a) == rows(b), mode)
      assert(rows(a) == Seq((10L, "u"), (15L, "u"), (20L, "u")), mode)
    }
  }

  test("SQL DML honors merge-on-read mode") {
    val cat = freshCat()
    cat.createDatabase("mor")
    spark.sql("""CREATE TABLE graft.mor.t (id BIGINT, v STRING)
                |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.mor.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM graft.mor.t WHERE id = 2")
    val t = cat.table("mor", "t")
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty,
      "SQL DELETE wrote positional delete files")
    assert(spark.sql("SELECT count(*) FROM graft.mor.t").head().getLong(0) == 2)
  }

  test("SQL CTAS and REPLACE TABLE AS SELECT (reference cells 68/13)") {
    import spark.implicits._
    val cat = freshCat()
    cat.createDatabase("ctas")
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "x").createOrReplaceTempView("src_rows")
    spark.sql("""CREATE TABLE graft.ctas.t1 AS
                |SELECT id, name FROM src_rows WHERE x > 10""".stripMargin)
    assert(spark.sql("SELECT id FROM graft.ctas.t1 ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    val t = cat.table("ctas", "t1")
    assert(t.meta.currentSchema.fieldNames == Vector("id", "name"))
    // REPLACE: new schema + contents, history preserved
    spark.sql("""REPLACE TABLE graft.ctas.t1 AS
                |SELECT id, x FROM src_rows WHERE x <= 20""".stripMargin)
    val t2 = cat.table("ctas", "t1")
    assert(t2.read().columns.toSeq == Seq("id", "x"))
    assert(t2.read().count() == 2)
    assert(t2.meta.snapshots.size == 2)
  }

  test("INSERT INTO is positional; explicit column lists map by name") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "pos", Seq("a" -> "long", "b" -> "long"))
    t.append(Seq((0L, 100L)).toDF("a", "b"))
    // source columns NAMED like a permutation of the table's must still
    // insert positionally (SQL semantics; matches every other Spark table)
    spark.sql("INSERT INTO graft.db.pos SELECT 1L AS b, 2L AS a")
    assert(spark.sql("SELECT a, b FROM graft.db.pos WHERE a = 1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // an explicit column list names the VALUES positionally, then maps
    // by name onto the table
    spark.sql("INSERT INTO graft.db.pos (b, a) VALUES (30L, 3L)")
    assert(spark.sql("SELECT a, b FROM graft.db.pos WHERE a = 3").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 30L)))
    // PARTIAL column list: unnamed columns null-fill (SQL semantics)
    spark.sql("INSERT INTO graft.db.pos (a) VALUES (4L)")
    assert(spark.sql("SELECT a, b FROM graft.db.pos WHERE a = 4").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
      .toSeq == Seq((4L, null)))
    // unknown and duplicate names still fail loudly
    val bad = intercept[Exception](
      spark.sql("INSERT INTO graft.db.pos (nope) VALUES (5L)"))
    assert(bad.getMessage.contains("not in table"))
    val dup = intercept[Exception](
      spark.sql("INSERT INTO graft.db.pos (a, a) VALUES (5L, 6L)"))
    assert(dup.getMessage.contains("duplicate INSERT columns"))
  }

  test("UPDATE rejects duplicate and nested SET targets") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "u", Seq("a" -> "long", "b" -> "long"))
    t.append(Seq((1L, 2L)).toDF("a", "b"))
    val dup = intercept[Exception](
      spark.sql("UPDATE graft.db.u SET a = 5, a = 6"))
    assert(dup.getMessage.contains("duplicate UPDATE targets"))
    val nested = intercept[Exception](
      spark.sql("UPDATE graft.db.u SET s.a = 5"))
    assert(nested.getMessage.contains("nested UPDATE targets") ||
      nested.getMessage.toLowerCase.contains("cannot resolve"))
    // table unchanged after both rejections
    assert(spark.sql("SELECT a, b FROM graft.db.u").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("CTAS flags: IF NOT EXISTS no-ops, CREATE OR REPLACE creates, REPLACE keeps PARTITIONED BY") {
    val cat = freshCat()
    val t = cat.createTable("db", "flags", Seq("id" -> "long"))
    import spark.implicits._
    t.append(Seq(7L).toDF("id"))
    // IF NOT EXISTS on an existing table: no-op, contents untouched
    spark.sql("CREATE TABLE IF NOT EXISTS graft.db.flags AS SELECT 99L AS id")
    assert(spark.sql("SELECT id FROM graft.db.flags").as[Long]
      .collect().toSeq == Seq(7L))
    // plain REPLACE on a missing table errors; OR REPLACE creates it
    val missing = intercept[Exception](
      spark.sql("REPLACE TABLE graft.db.nope AS SELECT 1L AS id"))
    assert(missing.getMessage.contains("no table at"))
    spark.sql("CREATE OR REPLACE TABLE graft.db.made AS SELECT 5L AS id")
    assert(spark.sql("SELECT id FROM graft.db.made").as[Long]
      .collect().toSeq == Seq(5L))
    // REPLACE with an explicit PARTITIONED BY keeps the partitioning
    spark.sql("""CREATE OR REPLACE TABLE graft.db.flags
      PARTITIONED BY (id) AS SELECT 8L AS id""")
    val spec = graft.engine.GraftTable.load(spark,
      java.nio.file.Paths.get(cat.warehouse, "db", "flags").toString)
      .meta.currentSpec
    assert(spec.fields.map(f => (f.transform, f.name)) == Vector(("identity", "id")))
  }

  test("metadata tables resolve through SQL suffix idents") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("meta", "t", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    t.delete(col("id") === 1L)
    // history / snapshots / refs / metadata_log_entries / files
    val ops = spark.sql(
      """SELECT operation FROM graft.meta.t.snapshots
        |ORDER BY committed_at, snapshot_id""".stripMargin)
      .as[String].collect().toSeq
    assert(ops == Seq("append", "append", "delete"))
    assert(spark.sql("SELECT count(*) FROM graft.meta.t.history")
      .head().getLong(0) == 3)
    assert(spark.sql(
      "SELECT count(*) FROM graft.meta.t.history WHERE is_current_ancestor")
      .head().getLong(0) == 3)
    val refs = spark.sql("SELECT name, type FROM graft.meta.t.refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("main", "BRANCH")))
    assert(spark.sql("SELECT count(*) FROM graft.meta.t.metadata_log_entries")
      .head().getLong(0) >= 3)
    assert(spark.sql("SELECT sum(record_count) FROM graft.meta.t.files")
      .head().getLong(0) == 2)
    // joins between a metadata table and the data table work
    val n = spark.sql(
      """SELECT count(*) FROM graft.meta.t d
        |CROSS JOIN graft.meta.t.refs r WHERE r.name = 'main'""".stripMargin)
      .head().getLong(0)
    assert(n == 2)
    // stats: the manifest aggregate trio per column via SQL (this
    // table carries a CoW delete, so counts reflect the live rows)
    val st = spark.sql(
      "SELECT col_name, record_count, non_null, lower, upper " +
        "FROM graft.meta.t.stats").head()
    assert(st.getString(0) == "id" && st.getLong(1) == 2 &&
      st.getLong(2) == 2 && st.getString(3) == "2" && st.getString(4) == "3")
  }

  test("changes suffix serves the latest commit's changelog via SQL") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("cdc", "t", Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val got = spark.sql(
      """SELECT id, v, _change_type FROM graft.cdc.t.changes ORDER BY id""")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq((3L, "c", "insert")))
    // a delete commit surfaces as _change_type=delete
    t.delete(col("id") === 1L)
    val del = spark.sql(
      """SELECT id, _change_type FROM graft.cdc.t.changes ORDER BY id""")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(del.toSeq == Seq((1L, "delete")))
  }

  test("unknown table stays unresolved and errors through Spark") {
    freshCat()
    val e = intercept[Exception](spark.sql("SELECT * FROM graft.db.nope").collect())
    assert(e.getMessage.toLowerCase.contains("nope") ||
      e.getMessage.toLowerCase.contains("not found"))
  }

  test("DataFrameWriterV2: writeTo append and overwrite route to the engine") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "w2", Seq("id" -> "long", "v" -> "string"))
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo("graft.db.w2").append()
    // by-name: permuted columns land correctly, missing ones null-fill
    Seq(("c", 3L)).toDF("v", "id").writeTo("graft.db.w2").append()
    assert(spark.table("graft.db.w2").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Seq((9L, "z")).toDF("id", "v").writeTo("graft.db.w2").overwrite(lit(true))
    assert(spark.table("graft.db.w2").as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")))
    assert(t.meta.snapshots.size == 3)
    val e = intercept[Exception](Seq((1L, "x")).toDF("id", "v")
      .writeTo("graft.db.w2").overwrite(col("id") === 1L))
    assert(e.getMessage.contains("partial writeTo"))
  }

  test("VERSION AS OF accepts ref names; SHOW PROCEDURES lists system") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "reft", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    t.createTag("v1.0")
    t.append(Seq(3L).toDF("id"))
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.reft VERSION AS OF 'v1.0'")
      .head().getLong(0) == 2L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.reft VERSION AS OF 'main'")
      .head().getLong(0) == 3L)
    // an all-digit ref name must still resolve: snapshot-id lookup
    // misses, then falls back to the ref
    t.createTag("2024")
    t.append(Seq(4L).toDF("id"))
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.reft VERSION AS OF '2024'")
      .head().getLong(0) == 3L)
    val procs = spark.sql("SHOW PROCEDURES IN graft.system")
      .collect().map(_.toString).mkString
    assert(procs.contains("rollback_to_snapshot") && procs.contains("fast_forward"))
  }

  test("ALTER TABLE RENAME TO moves the table, history intact") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "r1", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val v1 = t.meta.currentSnapshot.get.snapshotId
    t.append(Seq(3L).toDF("id"))
    spark.sql("ALTER TABLE graft.db.r1 RENAME TO db.r2")
    assert(spark.table("graft.db.r2").count() == 3)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db.r2 VERSION AS OF $v1")
      .head().getLong(0) == 2L)
    intercept[Exception](spark.table("graft.db.r1").collect())
    // renaming onto an existing table refuses
    cat.createTable("db", "r3", Seq("id" -> "long"))
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.r2 RENAME TO db.r3"))
    assert(e.getMessage.contains("already exists"))
  }

  test("TRUNCATE TABLE and ALTER COLUMN TYPE through native SQL") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "trnc", Seq("id" -> "long", "v" -> "int"))
    t.append(Seq((1L, 1), (2L, 2)).toDF("id", "v"))
    val v1 = t.meta.currentSnapshot.get.snapshotId
    // type widening via SQL DDL: old files read through the cast
    spark.sql("ALTER TABLE graft.db.trnc ALTER COLUMN v TYPE BIGINT")
    assert(spark.table("graft.db.trnc").schema("v").dataType.typeName == "long")
    assert(spark.sql("SELECT sum(v) FROM graft.db.trnc").head().getLong(0) == 3L)
    // truncate: empty current, history intact
    spark.sql("TRUNCATE TABLE graft.db.trnc")
    assert(spark.table("graft.db.trnc").count() == 0)
    assert(t.readAsOfVersion(v1).count() == 2)
  }

  test("DML conditions accept IN and correlated EXISTS subqueries") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "sq", Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val keys = cat.createTable("db", "keys", Seq("k" -> "long"))
    keys.append(Seq(1L, 3L).toDF("k"))
    // uncorrelated IN: outer value sits in the captured expression tree
    spark.sql(
      "DELETE FROM graft.db.sq WHERE id IN (SELECT k FROM graft.db.keys)")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L))
    // correlated EXISTS: the outer reference lives INSIDE the subquery
    // plan and must re-resolve against the fresh read (unbindPlan)
    spark.sql("""UPDATE graft.db.sq SET v = 'z'
                 WHERE EXISTS (SELECT 1 FROM graft.db.keys WHERE k = id - 1)""")
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((2L, "z")))
    // a correlated reference that a same-named INNER column would
    // capture on re-resolution fails loudly instead of silently
    // losing the correlation
    val shadow = cat.createTable("db", "keys2",
      Seq("k" -> "long", "id" -> "long"))
    shadow.append(Seq((2L, 99L)).toDF("k", "id"))
    val e = intercept[Exception](spark.sql(
      """DELETE FROM graft.db.sq t
         WHERE EXISTS (SELECT 1 FROM graft.db.keys2 WHERE keys2.k = t.id)"""))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("shadowed")), msgs(e).mkString(" | "))
    assert(t.read().count() == 1) // nothing deleted
  }

  test("CALL graft.system.audit_integrity reports a mangled warehouse " +
      "as rows; verify_table throws; a clean table audits empty") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "aud", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id").coalesce(1))
    t.append(Seq(3L, 4L).toDF("id").coalesce(1))
    // clean: zero findings, and the row shape is (finding: string)
    val clean = spark.sql("CALL graft.system.audit_integrity('db.aud')")
    assert(clean.columns.toSeq == Seq("finding"))
    assert(clean.count() == 0)
    // mangle 2 (prepared first): truncate ONE manifest so its entry
    // count disagrees with its ref; the missing-file victim must live
    // in a DIFFERENT manifest or truncation would hide it from the
    // file tier
    val snap = t.meta.currentSnapshot.get
    val mf = snap.manifests.last.path
    val truncatedEntries = graft.tableformat.Manifests
      .readEntries(t.location, snap.manifests.last).map(_.path).toSet
    // mangle 1: delete a referenced data file (what a stranded clone
    // sees after unsafe source GC, or a half-deleted import)
    val victim = snap.files.map(_.path)
      .find(p => !truncatedEntries(p)).get
    graft.tableformat.FileIO.io.delete(s"${t.location}/$victim")
    graft.tableformat.Manifests.clearCachesForTesting()
    graft.tableformat.FileIO.io.writeString(s"${t.location}/$mf", "\n")
    val findings = spark.sql(
      "CALL graft.system.audit_integrity('db.aud', true)")
      .as[String].collect().toSeq
    assert(findings.exists(f => f.contains("missing file") &&
      f.contains(victim)), findings.mkString(" | "))
    assert(findings.exists(_.contains(mf)), findings.mkString(" | "))
    // the CI-gate twin still fails loudly on the same state
    val e = intercept[Exception](
      spark.sql("CALL graft.system.verify_table('db.aud')").collect())
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("issue")), msgs(e).mkString(" | "))
  }

  test("CALL graft.system.* procedures drive maintenance through SQL") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "proc", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val v1 = t.meta.currentSnapshot.get.snapshotId
    t.append(Seq(3L).toDF("id"))
    // rollback through Spark's own CALL machinery
    spark.sql(s"CALL graft.system.rollback_to_snapshot('db.proc', $v1)")
    assert(t.read().count() == 2)
    spark.sql("CALL graft.system.create_branch('db.proc', 'stage')")
    t.appendToBranch("stage", Seq(7L).toDF("id"))
    spark.sql("CALL graft.system.fast_forward('db.proc', 'stage')")
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 7L))
    // clustered compaction with the optional sort argument, then expiry
    spark.sql("CALL graft.system.rewrite_data_files('db.proc', 'id')")
    spark.sql("CALL graft.system.expire_snapshots('db.proc', 1)")
    // keep-set: the compacted current snapshot + the stage ref's pin
    assert(t.meta.snapshots.size == 2)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 7L))
    spark.sql("CALL graft.system.remove_orphan_files('db.proc')")
    assert(t.read().count() == 3)
    // size-based maintenance: binpack re-packs the table's small files
    t.append(Seq(9L).toDF("id"))
    spark.sql("CALL graft.system.rewrite_data_files_binpack('db.proc')")
    assert(t.meta.currentSnapshot.get.files.size == 1)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 7L, 9L))
    // time-based expiry: everything before now goes, retain_last floors
    spark.sql("CALL graft.system.expire_snapshots_older_than('db.proc', " +
      s"${System.currentTimeMillis() + 60000}, 1)")
    assert(t.meta.snapshots.size >= 1)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 7L, 9L))
    // branch retention policy through SQL: knob lands as the table
    // property the expiry path reads
    spark.sql(
      "CALL graft.system.set_branch_retention('db.proc', 'stage', 2, NULL)")
    assert(t.meta.properties.get("graft.ref.stage.min-snapshots-to-keep")
      .contains("2"))
    val e = intercept[Exception](
      spark.sql("CALL graft.system.nope('db.proc')"))
    assert(e.getMessage.contains("FAILED_TO_LOAD_ROUTINE") ||
      e.getMessage.contains("unknown procedure"))
  }

  test("CALL graft.system.upsert drives the CDC engine paths via SQL") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "upst", Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").createOrReplaceTempView("batch1")
    spark.sql(
      "CALL graft.system.upsert('db.upst', 'batch1', 'id', 'cdc.batch', 1)")
    assert(spark.table("graft.db.upst").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // replayed marker: a no-op, no new snapshot
    val snaps = t.meta.snapshots.size
    spark.sql(
      "CALL graft.system.upsert('db.upst', 'batch1', 'id', 'cdc.batch', 1)")
    assert(t.meta.snapshots.size == snaps)
    // equality mode writes a value-keyed delete file (O(batch) commit)
    Seq((3L, "C2"), (4L, "d")).toDF("id", "v").createOrReplaceTempView("batch2")
    spark.sql("CALL graft.system.upsert('db.upst', 'batch2', 'id', " +
      "'cdc.batch', 2, 'equality')")
    assert(t.meta.currentSnapshot.get.deleteFiles.exists(_.equalityIds.nonEmpty))
    assert(spark.table("graft.db.upst").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "C2"), (4L, "d")))
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.upsert('db.upst', 'batch2', 'id', 'cdc.batch', 3, 'nope')"))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("unknown upsert mode")))
  }

  test("CALL graft.system.refresh_agg maintains a materialized " +
      "aggregate through SQL") {
    import spark.implicits._
    val cat = freshCat()
    val base = cat.createTable("db", "mvb",
      Seq("id" -> "long", "k" -> "string", "x" -> "long"))
    val state = cat.createTable("db", "mvs",
      Seq("k" -> "string", "n_rows" -> "long",
        "sum_x" -> "long", "nn_x" -> "long"))
    base.append(Seq((1L, "a", 3L), (2L, "b", 4L), (3L, "b", 5L))
      .toDF("id", "k", "x"))
    spark.sql("CALL graft.system.refresh_agg('db.mvs', 'db.mvb', 'k', 'x')")
    def got = graft.operators.IncrementalAgg
      .present(state.read(), Seq("k"), Seq("x"))
      .orderBy("k").as[(String, Long, Option[Long])].collect().toSeq
    assert(got == Seq(("a", 1L, Some(3L)), ("b", 2L, Some(9L))))
    // fold only the new commits; a current state no-ops (no snapshot)
    base.delete(col("k") === "a")
    spark.sql("CALL graft.system.refresh_agg('db.mvs', 'db.mvb', 'k', 'x')")
    assert(got == Seq(("b", 2L, Some(9L))))
    val snaps = state.meta.snapshots.size
    spark.sql("CALL graft.system.refresh_agg('db.mvs', 'db.mvb', 'k', 'x')")
    assert(state.meta.snapshots.size == snaps)
    // the extremes twin: min/max ride the same machinery, rescanning
    // on the extreme delete
    val st2 = cat.createTable("db", "mvs2",
      Seq("k" -> "string", "n_rows" -> "long", "sum_x" -> "long",
        "nn_x" -> "long", "min_x" -> "long", "max_x" -> "long"))
    spark.sql(
      "CALL graft.system.refresh_agg_minmax('db.mvs2', 'db.mvb', 'k', 'x', 'x')")
    base.delete(col("x") === 5L) // b's max goes; rescan finds 4
    spark.sql(
      "CALL graft.system.refresh_agg_minmax('db.mvs2', 'db.mvb', 'k', 'x', 'x')")
    val row = graft.operators.IncrementalAgg
      .presentWithExtremes(st2.read(), Seq("k"), Seq("x"), Seq("x")).head()
    assert(row.getAs[String]("k") == "b" && row.getAs[Long]("n_rows") == 1L &&
      row.getAs[Long]("min_x") == 4L && row.getAs[Long]("max_x") == 4L)
  }

  test("CALL graft.system.set_partition_spec evolves the layout in place") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "spev",
      Seq("id" -> "long", "typ" -> "string"),
      partition = Seq("id" -> "identity"))
    t.append(Seq((1L, "ann"), (2L, "bo")).toDF("id", "typ"))
    spark.sql(
      "CALL graft.system.set_partition_spec('db.spev', 'truncate(1, typ)')")
    t.append(Seq((3L, "anna"), (4L, "bob")).toDF("id", "typ"))
    // old files keep the identity layout, new ones land under truncate
    val files = t.meta.currentSnapshot.get.files
    assert(files.exists(_.partitionValues.contains("id")))
    assert(files.exists(_.partitionValues.contains("typ_trunc")))
    assert(spark.table("graft.db.spev").count() == 4)
    // the Iceberg transform syntax parses in all its shapes
    assert(graft.catalog.GraftProcedures
      .parseSpec("day(ts), bucket(8, id), name, truncate(4, v)") ==
      Seq("ts" -> "day", "id" -> "bucket(8)", "name" -> "identity",
        "v" -> "truncate(4)"))
    assert(graft.catalog.GraftProcedures.parseSpec("hours(ts)") ==
      Seq("ts" -> "hour"))
    assert(graft.catalog.GraftProcedures.parseSpec("") == Nil)
    // a ')' with no matching '(' fails as unbalanced even when depth
    // recovers to 0 by the end (r9 ADVICE: "a)b(,c" previously slipped
    // through to a confusing "malformed transform" error)
    val unb = intercept[IllegalArgumentException](
      graft.catalog.GraftProcedures.parseSpec("a)b(,c"))
    assert(unb.getMessage.contains("unbalanced parens"))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    val bad = intercept[Exception](spark.sql(
      "CALL graft.system.set_partition_spec('db.spev', 'wat(id)')"))
    assert(msgs(bad).exists(_.contains("unknown partition transform")))
  }

  test("CALL graft.system.rewrite_delete_files compacts CDC deletes via SQL") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "cdcm", Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.upsertEqIfNewMarker(Seq((2L, "B")).toDF("id", "v"), Seq("id"), "m", 0L)
    t.upsertEqIfNewMarker(Seq((3L, "C")).toDF("id", "v"), Seq("id"), "m", 1L)
    assert(t.meta.currentSnapshot.get.deleteFiles
      .count(_.equalityIds.nonEmpty) == 2)
    spark.sql("CALL graft.system.rewrite_delete_files('db.cdcm')")
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.nonEmpty &&
      snap.deleteFiles.forall(_.equalityIds.isEmpty))
    assert(spark.table("graft.db.cdcm").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "C")))
    // the optional target_files argument pins the output layout
    spark.sql("CALL graft.system.rewrite_delete_files('db.cdcm', 1)")
    assert(t.meta.currentSnapshot.get.deleteFiles.size == 1)
    assert(spark.table("graft.db.cdcm").count() == 3)
  }

  test("MERGE INTO: ordered clauses — update, delete, conditional insert") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "acct",
      Seq("id" -> "long", "bal" -> "double", "note" -> "string"))
    t.append(Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("id", "bal", "note"))
    Seq((2L, 5.0), (3L, -1.0), (4L, 40.0), (5L, -9.0)).toDF("id", "amount")
      .createOrReplaceTempView("m_src")
    spark.sql("""
      MERGE INTO graft.db.acct t
      USING m_src s ON t.id = s.id
      WHEN MATCHED AND s.amount > 0 THEN UPDATE SET bal = t.bal + s.amount
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.amount > 0 THEN INSERT (id, bal) VALUES (s.id, s.amount)""")
    val got = spark.sql("SELECT id, bal, note FROM graft.db.acct ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    // 1 untouched; 2 updated (first clause wins); 3 deleted (second);
    // 4 inserted with note null-filled; 5 filtered by the insert condition
    assert(got == Seq((1L, 10.0, "a"), (2L, 25.0, "b"), (4L, 40.0, null)))
    assert(t.meta.currentSnapshot.get.operation == "overwrite")
  }

  test("MERGE INTO: UPDATE SET * / INSERT * and NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "star", Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "old1"), (2L, "old2"), (9L, "stale")).toDF("id", "v"))
    Seq((1L, "new1"), (5L, "new5")).toDF("id", "v")
      .createOrReplaceTempView("star_src")
    spark.sql("""
      MERGE INTO graft.db.star t
      USING star_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.id > 5 THEN DELETE""")
    val got = spark.sql("SELECT id, v FROM graft.db.star ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "new1"), (2L, "old2"), (5L, "new5")))
  }

  test("MERGE INTO: multiple source matches for one target row fail loudly") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "card", Seq("id" -> "long", "v" -> "int"))
    t.append(Seq((1L, 0), (2L, 0)).toDF("id", "v"))
    Seq((1L, 10), (1L, 20)).toDF("id", "nv").createOrReplaceTempView("card_src")
    val e = intercept[Throwable] {
      spark.sql("""
        MERGE INTO graft.db.card t USING card_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("cardinality")), msgs(e).mkString(" | "))
    // the failed merge committed nothing
    assert(spark.sql("SELECT sum(v) FROM graft.db.card").head().getLong(0) == 0L)
  }

  test("SQL aggregate pushdown: count/min/max over a graft table answer " +
      "from the manifest — zero file scans, zero Spark jobs — and MoR " +
      "deletes / unknown stats force the exact scan") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "aggp", Seq("id" -> "long",
      "v" -> "string", "ts" -> "date"))
    t.append(Seq((1L, "b", "2024-01-03"), (2L, null, "2024-02-01"))
      .toDF("id", "v", "ts").withColumn("ts", col("ts").cast("date"))
      .coalesce(1))
    t.append(Seq((7L, "a", "2023-12-25"), (5L, "z", "2024-03-09"))
      .toDF("id", "v", "ts").withColumn("ts", col("ts").cast("date"))
      .coalesce(1))
    val sql = """SELECT count(*) AS n, count(v) AS nn, min(id) AS lo_id,
      max(id) AS hi_id, min(v) AS lo_v, max(v) AS hi_v,
      min(ts) AS lo_ts, max(ts) AS hi_ts FROM graft.db.aggp"""
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = spark.sql(sql)
      // structural pin: the whole query collapsed to a local relation —
      // no scan node anywhere, and LocalTableScanExec collects without
      // submitting a job
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("LocalTableScan") && !planStr.contains("Scan parquet"),
        s"expected manifest-only local plan:\n$planStr")
      val r = df.head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getDate(6).toString,
        r.getDate(7).toString) ==
        ((4L, 3L, 1L, 7L, "a", "z", "2023-12-25", "2024-03-09")))
      Thread.sleep(300) // listener bus drain; false-pass-only race
      assert(jobs.get() == 0, s"manifest aggregate ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(l)
    // a column the manifest can't prove (added after the files were
    // written -> no null counts) bails the WHOLE aggregate to the scan
    // path, which stays exact: every old row null-fills w
    t.addColumn("w", "string")
    val fb = spark.sql("SELECT count(*) AS n, count(w) AS nn FROM graft.db.aggp")
    assert(fb.queryExecution.executedPlan.toString.contains("Scan"),
      "unprovable count(col) must fall back to the scan")
    assert(fb.head() == org.apache.spark.sql.Row(4L, 0L))
    // WHERE, GROUP BY, DISTINCT, expression args: never pushed
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.aggp WHERE id > 1").head().getLong(0) == 3L)
    assert(spark.sql("SELECT count(DISTINCT v) FROM graft.db.aggp")
      .head().getLong(0) == 3L)
    assert(spark.sql("SELECT min(id + 1) FROM graft.db.aggp")
      .head().getLong(0) == 2L)
    // MoR deletes: manifest arithmetic is unsound -> exact scan fallback
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") === 7L)
    val mor = spark.sql(sql)
    assert(mor.queryExecution.executedPlan.toString.contains("Scan"),
      "MoR deletes must force the scan path")
    val m = mor.head()
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
      m.getString(4), m.getString(5)) == ((3L, 2L, 1L, 5L, "b", "z")))
    // time travel pushes too — the audit count answers from the
    // PINNED snapshot's manifest (the schema drifted above via
    // addColumn, so this pre-drift snapshot must NOT push: field-id
    // stats read against the current schema would be inconsistent)
    val v0 = t.meta.snapshots.head.snapshotId
    val tt = spark.sql(
      s"SELECT count(*) AS n FROM graft.db.aggp VERSION AS OF $v0")
    assert(tt.queryExecution.executedPlan.toString.contains("Scan"),
      "a schema-drifted pinned snapshot must scan")
    assert(tt.head().getLong(0) == 2L)
    // current snapshot carries MoR deletes — pinning it must not
    // shortcut either (value exact via the scan)
    val vNow = t.meta.currentSnapshot.get.snapshotId
    val tt2 = spark.sql(
      s"SELECT count(*) AS n FROM graft.db.aggp VERSION AS OF $vNow")
    assert(tt2.head().getLong(0) == 3L)
  }

  test("grouped SQL aggregate pushdown: GROUP BY an identity-partition " +
      "column answers per-group count/min/max from the manifest, NULL " +
      "group included; non-partition grouping scans") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "gagg",
      Seq("day" -> "int", "id" -> "long", "v" -> "string"),
      partition = Seq("day" -> "identity"))
    t.append(Seq[(Option[Int], Long, String)](
      (Some(1), 10L, "a"), (Some(1), 11L, null), (Some(2), 20L, "c"),
      (None, 30L, "d"), (Some(2), 21L, "e"), (Some(1), 12L, "f"))
      .toDF("day", "id", "v"))
    t.append(Seq[(Option[Int], Long, String)](
      (Some(2), 22L, "g"), (None, 31L, null)).toDF("day", "id", "v"))
    val df = spark.sql("""SELECT day, count(*) AS n, count(v) AS nn,
      min(id) AS lo, max(id) AS hi FROM graft.db.gagg GROUP BY day""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("Scan parquet"),
      s"expected manifest-only grouped plan:\n$plan")
    val got = df.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      (Some(1), 3L, 2L, 10L, 12L),
      (Some(2), 3L, 3L, 20L, 22L),
      (None, 2L, 1L, 30L, 31L)))
    // WHERE composes: id >= 20 is strict for every surviving file
    // (file bounds prove it), so the filtered rollup still pushes
    val fw = spark.sql("""SELECT day, count(*) AS n FROM graft.db.gagg
      WHERE id >= 20 GROUP BY day""")
    assert(fw.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"filtered grouped rollup must push:\n${fw.queryExecution.executedPlan}")
    assert(fw.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
      r.getLong(1))).toSet == Set((Some(2), 3L), (None, 2L)))
    // a boundary predicate bails to the scan, exact
    assert(spark.sql("""SELECT day, count(*) AS n FROM graft.db.gagg
      WHERE id >= 21 GROUP BY day""").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
        r.getLong(1))).toSet == Set((Some(2), 2L), (None, 2L)))
    // multi-column cells: a (day, region)-identity layout pushes the
    // two-key rollup the same way
    val t2 = cat.createTable("db", "gagg2",
      Seq("day" -> "int", "region" -> "string", "id" -> "long"),
      partition = Seq("day" -> "identity", "region" -> "identity"))
    t2.append(Seq((1, "eu", 1L), (1, "eu", 2L), (1, "us", 3L),
      (2, "eu", 4L)).toDF("day", "region", "id"))
    val two = spark.sql("""SELECT day, region, count(*) AS n, max(id) AS hi
      FROM graft.db.gagg2 GROUP BY day, region""")
    assert(two.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"two-key rollup must push:\n${two.queryExecution.executedPlan}")
    assert(two.collect().map(r => (r.getInt(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSet ==
      Set((1, "eu", 2L, 2L), (1, "us", 1L, 3L), (2, "eu", 1L, 4L)))
    // grouping by a subset of the layout still pushes (files group
    // coarser than their cells, counts merge)
    assert(spark.sql(
      "SELECT day, count(*) AS n FROM graft.db.gagg2 GROUP BY day")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1, 3L), (2, 1L)))
    // grouping by a NON-partition column is ordinary execution — exact
    val byV = spark.sql(
      "SELECT v, count(*) AS n FROM graft.db.gagg WHERE v IS NOT NULL GROUP BY v")
    assert(byV.queryExecution.executedPlan.toString.contains("Scan"))
    assert(byV.count() == 6)
    // MoR deletes break per-group manifest arithmetic — scan, exact
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") === 22L)
    val mor = spark.sql(
      "SELECT day, count(*) AS n FROM graft.db.gagg GROUP BY day")
    assert(mor.queryExecution.executedPlan.toString.contains("Scan"))
    assert(mor.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getLong(1))).toSet ==
      Set((Some(1), 3L), (Some(2), 2L), (None, 2L)))
  }

  test("aggregate pushdown under evolution: rename keeps the fast path " +
      "(field-id stats), a re-added column and a freshly evolved " +
      "partition layout fall back to the exact scan") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "evagg", Seq("id" -> "long",
      "v" -> "string"))
    t.append((1L to 50L).map(i => (i, s"x$i")).toDF("id", "v").coalesce(1))
    // rename: the footer stats are field-id-keyed, so count/min/max on
    // the NEW name still answer manifest-only
    t.renameColumn("v", "w")
    val ren = spark.sql(
      "SELECT count(w) AS nn, min(w) AS lo FROM graft.db.evagg")
    assert(ren.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "renamed column must keep the manifest fast path")
    assert(ren.head() == org.apache.spark.sql.Row(50L, "x1"))
    // drop + re-add under the same name: a FRESH field id — old files
    // carry no stats for it, so the aggregate scans and stays exact
    // (every old row null-fills the re-added column)
    t.dropColumn("w")
    t.addColumn("w", "string")
    val readd = spark.sql("SELECT count(w) AS nn FROM graft.db.evagg")
    assert(readd.queryExecution.executedPlan.toString.contains("Scan"),
      "re-added column must not reuse the dropped column's stats")
    assert(readd.head().getLong(0) == 0L)
    // partition-spec evolution: files written BEFORE the identity
    // layout carry no value for it — the grouped rollup must scan
    val p = cat.createTable("db", "evgrp", Seq("day" -> "int",
      "id" -> "long"))
    p.append(Seq((1, 1L), (2, 2L)).toDF("day", "id"))
    p.setPartitionSpec(Seq("day" -> "identity"))
    p.append(Seq((1, 3L), (3, 4L)).toDF("day", "id"))
    val g = spark.sql(
      "SELECT day, count(*) AS n FROM graft.db.evgrp GROUP BY day")
    assert(g.queryExecution.executedPlan.toString.contains("Scan"),
      "pre-layout files can't be assigned to cells; must scan")
    assert(g.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1, 2L), (2, 1L), (3, 1L)))
  }

  test("filtered SQL aggregate pushdown: a WHERE provable file-wise " +
      "answers count/min/max from the manifest; boundary predicates " +
      "fall back to the (pruned) scan and stay exact") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "fagg", Seq("id" -> "long",
      "v" -> "string"))
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((101L to 200L).map(i =>
      (i, if (i % 2 == 0) null else s"b$i")).toDF("id", "v").coalesce(1))
    t.append((201L to 300L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1))
    // both surviving files strictly inside the predicate: the whole
    // filtered aggregate collapses to a LocalRelation
    val whole = spark.sql("""SELECT count(*) AS n, count(v) AS nn,
      min(id) AS lo, max(id) AS hi FROM graft.db.fagg WHERE id >= 101""")
    assert(whole.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"expected manifest-only plan:\n${whole.queryExecution.executedPlan}")
    assert(whole.head() == org.apache.spark.sql.Row(200L, 150L, 101L, 300L))
    // boundary predicate: file 2 straddles the cut -> scan, exact
    val part = spark.sql(
      "SELECT count(*) AS n FROM graft.db.fagg WHERE id >= 150")
    assert(part.queryExecution.executedPlan.toString.contains("Scan"))
    assert(part.head().getLong(0) == 151L)
    // the SQL gate is all-or-nothing (a resolution rule must not run
    // Spark jobs, so no boundary-file partial count here — that's the
    // countWhere API): the NULL-carrying file 2 is not strict under
    // IS NOT NULL, the whole query takes the scan path, stays exact
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.fagg WHERE v IS NOT NULL")
      .head().getLong(0) == 250L)
    // predicate excluding everything: empty count pushes to literal 0
    val none = spark.sql(
      "SELECT count(*) AS n FROM graft.db.fagg WHERE id > 400")
    assert(none.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(none.head().getLong(0) == 0L)
    // VERSION AS OF with the schema unchanged: the audit count answers
    // from the PINNED snapshot's manifest, zero scans
    val v0 = t.meta.snapshots.head.snapshotId
    val tt = spark.sql(
      s"SELECT count(*) AS n, max(id) AS hi FROM graft.db.fagg VERSION AS OF $v0")
    assert(tt.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"pinned-snapshot audit count must push:\n${tt.queryExecution.executedPlan}")
    assert(tt.head() == org.apache.spark.sql.Row(100L, 100L))
  }

  test("grouped pushdown over a day() transform: GROUP BY to_date(ts) " +
      "answers the daily rollup from per-cell manifest arithmetic; " +
      "NTZ sources fall back to the scan") {
    val cat = freshCat()
    spark.sql("CREATE TABLE graft.db.dayagg (ts timestamp, id bigint) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("""INSERT INTO graft.db.dayagg VALUES
      (TIMESTAMP '2024-03-01 10:00:00', 1), (TIMESTAMP '2024-03-01 23:59:00', 2),
      (TIMESTAMP '2024-03-02 00:00:01', 3), (TIMESTAMP '2024-03-03 12:00:00', 4),
      (TIMESTAMP '2024-03-03 13:00:00', 5)""")
    val q = spark.sql("SELECT to_date(ts) AS d, count(*) AS n, max(id) AS hi " +
      "FROM graft.db.dayagg GROUP BY to_date(ts) ORDER BY d")
    assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan") &&
      !q.queryExecution.executedPlan.toString.contains("Scan parquet"),
      s"daily rollup must be manifest-only:\n${q.queryExecution.executedPlan}")
    assert(q.collect().map(r => (r.getDate(0).toString, r.getLong(1),
      r.getLong(2))).toSeq == Seq(("2024-03-01", 2L, 2L),
      ("2024-03-02", 1L, 3L), ("2024-03-03", 2L, 5L)))
    // the CAST spelling is the same rollup
    val c = spark.sql("SELECT CAST(ts AS DATE) AS d, count(*) AS n " +
      "FROM graft.db.dayagg GROUP BY CAST(ts AS DATE)")
    assert(c.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(c.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
      Set(("2024-03-01", 2L), ("2024-03-02", 1L), ("2024-03-03", 2L)))
    // a DATE column under day(d) groups by its own cell
    spark.sql("CREATE TABLE graft.db.dayagg2 (d date, id bigint) " +
      "PARTITIONED BY (days(d))")
    spark.sql("""INSERT INTO graft.db.dayagg2 VALUES
      (DATE '2024-03-01', 1), (DATE '2024-03-01', 2), (DATE '2024-03-05', 3)""")
    val b = spark.sql(
      "SELECT d, count(*) AS n FROM graft.db.dayagg2 GROUP BY d")
    assert(b.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"bare date grouping under day(d) must push:\n${b.queryExecution.executedPlan}")
    assert(b.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
      Set(("2024-03-01", 2L), ("2024-03-05", 1L)))
    // NTZ: to_date is the pure wall-clock truncation while the
    // recorded cell goes through the session-zone round trip — the
    // pushdown refuses and the scan stays exact
    spark.sql("CREATE TABLE graft.db.dayaggn (ts timestamp_ntz, id bigint) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("""INSERT INTO graft.db.dayaggn VALUES
      (TIMESTAMP_NTZ '2024-03-01 10:00:00', 1),
      (TIMESTAMP_NTZ '2024-03-02 10:00:00', 2)""")
    val n = spark.sql("SELECT to_date(ts) AS d, count(*) AS n " +
      "FROM graft.db.dayaggn GROUP BY to_date(ts)")
    assert(n.queryExecution.executedPlan.toString.contains("Scan"),
      "NTZ rollup must take the exact scan")
    assert(n.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
      Set(("2024-03-01", 1L), ("2024-03-02", 1L)))
    // WHERE composes under the strict gate: predicate aligned to whole
    // days keeps the fast path
    val w = spark.sql("SELECT to_date(ts) AS d, count(*) AS n " +
      "FROM graft.db.dayagg WHERE ts >= TIMESTAMP '2024-03-02 00:00:00' " +
      "GROUP BY to_date(ts)")
    assert(w.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
      Set(("2024-03-02", 1L), ("2024-03-03", 2L)))
  }

  test("aggregate pushdown after type widening: old files' bounds are " +
      "in the OLD encoding, so min/max falls back to the scan and " +
      "returns the runtime-widened value") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "wagg", Seq("fx" -> "float"))
    t.append(Seq(Tuple1(0.1f), Tuple1(0.7f)).toDF("fx").coalesce(1))
    spark.sql("ALTER TABLE graft.db.wagg ALTER COLUMN fx TYPE double")
    val q = spark.sql("SELECT min(fx) AS lo FROM graft.db.wagg")
    assert(q.queryExecution.executedPlan.toString.contains("Scan"),
      "widened column's old bounds must not push to a literal")
    // the widened min is (double)0.1f, NOT the decimal 0.1 the old
    // bound string would have claimed
    assert(q.head().getDouble(0) == 0.1f.toDouble)
  }

  test("materialized-view rewrite: covered GROUP BYs answer from the " +
      "maintained state table when exactly fresh; stale, uncovered, or " +
      "non-key-filtered shapes fall back to the scan") {
    import spark.implicits._
    import graft.engine.GraftTable
    import graft.operators.IncrementalAgg
    val cat = freshCat()
    val keys = Seq("k", "region"); val sums = Seq("amt", "units")
    val exts = Seq("amt")
    val base = cat.createTable("db", "sales", Seq("k" -> "string",
      "region" -> "string", "amt" -> "double", "units" -> "long"))
    base.append(Seq(
      ("a", "eu", Some(1.5), 2L), ("a", "us", Some(2.5), 3L),
      ("b", "eu", None, 1L), ("b", "eu", None, 4L))
      .toDF("k", "region", "amt", "units").coalesce(1))
    val stateLoc = Files.createTempDirectory("graft-mvstate").toString
    val state = GraftTable.createAs(spark, s"$stateLoc/t", "sales_agg",
      IncrementalAgg.initialWithExtremes(base.read(), keys, sums, exts)
        .filter(lit(false)))
    assert(IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    base.registerMaterializedView("default", s"$stateLoc/t",
      keys, sums, exts)

    def planOf(sql: String) =
      spark.sql(sql).queryExecution.executedPlan.toString
    def viaState(sql: String) = planOf(sql).contains("graft-mvstate")

    val grouped = """SELECT k, count(*) AS n, count(amt) AS na,
      sum(amt) AS s, avg(amt) AS a, sum(units) AS u,
      min(amt) AS lo, max(amt) AS hi
      FROM graft.db.sales GROUP BY k ORDER BY k"""
    assert(viaState(grouped), s"expected state scan:\n${planOf(grouped)}")
    val rows = spark.sql(grouped).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      Option(r.get(3)), Option(r.get(4)), r.getLong(5),
      Option(r.get(6)), Option(r.get(7)))).toSeq == Seq(
      ("a", 2L, 2L, Some(4.0), Some(2.0), 5L, Some(1.5), Some(2.5)),
      ("b", 2L, 0L, None, None, 5L, None, None)))
    // rollup to a key SUBSET (none at all): sums/counts add across
    // state rows — manifest pushdown can't prove sum, the view can
    val global = "SELECT count(*) AS n, sum(amt) AS s FROM graft.db.sales"
    assert(viaState(global))
    assert(spark.sql(global).head() == org.apache.spark.sql.Row(4L, 4.0))
    // WHERE over key columns only: whole groups select on the state
    val keyed = """SELECT sum(units) AS u FROM graft.db.sales
      WHERE region = 'eu' GROUP BY k ORDER BY u"""
    assert(viaState(keyed))
    assert(spark.sql(keyed).collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
    // WHERE over a non-key column cannot select whole groups -> scan
    val nonKey = """SELECT k, count(*) AS n FROM graft.db.sales
      WHERE amt > 2 GROUP BY k"""
    assert(!viaState(nonKey))
    assert(spark.sql(nonKey).head() == org.apache.spark.sql.Row("a", 1L))
    // min/max outside `exts`, DISTINCT, expression args: scan
    assert(!viaState("SELECT k, min(units) AS m FROM graft.db.sales GROUP BY k"))
    assert(!viaState("SELECT count(DISTINCT region) AS d FROM graft.db.sales"))
    assert(!viaState("SELECT k, sum(amt + 1) AS s FROM graft.db.sales GROUP BY k"))
    // STALENESS is exact: one base commit off -> scan, right answers
    base.append(Seq(("a", "eu", Some(10.0), 1L))
      .toDF("k", "region", "amt", "units").coalesce(1))
    assert(!viaState(grouped), "stale view must not rewrite")
    assert(spark.sql(global).head() == org.apache.spark.sql.Row(5L, 14.0))
    // refresh restores the rewrite, folding only the new commit
    assert(IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    assert(viaState(grouped))
    assert(spark.sql(global).head() == org.apache.spark.sql.Row(5L, 14.0))
    // maintenance must not knock the view off its fast path: a
    // "replace" commit (manifest compaction here) changes no rows, and
    // the replace-only lineage walk keeps the rewrite live
    base.rewriteManifests()
    assert(base.meta.currentSnapshot.get.operation == "replace")
    assert(viaState(grouped), "replace-only lineage must stay fresh")
    assert(spark.sql(global).head() == org.apache.spark.sql.Row(5L, 14.0))
    // time travel: the pinned snapshot is not the folded one -> scan
    val hist = spark.sql("SELECT snapshot_id FROM graft.db.sales.history " +
      "ORDER BY made_current_at").collect()
    val oldId = hist.head.getLong(0)
    assert(!viaState(
      s"SELECT count(*) AS n, sum(amt) AS s FROM graft.db.sales VERSION AS OF $oldId"))
    assert(spark.sql(s"SELECT sum(amt) AS s FROM graft.db.sales VERSION AS OF $oldId")
      .head().getDouble(0) == 4.0)
    // unregistering stops the rewrite; results unchanged
    base.dropMaterializedView("default")
    assert(!viaState(grouped))
    assert(spark.sql(global).head() == org.apache.spark.sql.Row(5L, 14.0))
  }

  test("BEGIN TRANSACTION ... COMMIT: a two-table SQL transaction " +
      "commits atomically; ROLLBACK discards; bare stores refuse at COMMIT") {
    import spark.implicits._
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = freshCat()
      val a = cat.createTable("db", "txa",
        Seq("id" -> "long", "v" -> "double"))
      val b = cat.createTable("db", "txb", Seq("id" -> "long"))
      a.append(Seq((1L, 1.0)).toDF("id", "v"))
      b.append(Seq(10L).toDF("id"))
      val snapsBefore = a.meta.snapshots.size
      // two-table append transaction through pure SQL
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.txa VALUES (2, 2.0)")
      spark.sql("INSERT INTO graft.db.txb VALUES (20)")
      // read-your-own-writes: THIS session's SQL reads see the staged
      // insert; the committed table is untouched (engine-API read)
      assert(spark.sql("SELECT count(*) FROM graft.db.txa")
        .head().getLong(0) == 2)
      assert(a.read().count() == 1)
      // statements with no staged form refuse instead of committing
      // outside the transaction
      val e1 = intercept[Exception](spark.sql(
        "CREATE TABLE graft.db.sneak AS SELECT * FROM graft.db.txb"))
      assert(e1.getMessage.contains("BEGIN TRANSACTION"), e1.getMessage)
      // a SECOND statement on the same table stages against the
      // transaction's preview and composes into the same claim slot
      spark.sql("INSERT INTO graft.db.txa VALUES (3, 3.0)")
      assert(spark.sql("SELECT count(*) FROM graft.db.txa")
        .head().getLong(0) == 3)
      spark.sql("COMMIT")
      assert(spark.sql("SELECT count(*) FROM graft.db.txa")
        .head().getLong(0) == 3)
      assert(spark.sql("SELECT count(*) FROM graft.db.txb")
        .head().getLong(0) == 2)
      // the pair committed with ONE shared timestamp (transaction-
      // consistent time travel) — txa's two statements COLLAPSED into
      // one published snapshot
      assert(a.meta.currentSnapshot.get.timestampMs ==
        b.meta.currentSnapshot.get.timestampMs)
      assert(a.meta.snapshots.size == snapsBefore + 1,
        s"chained statements must publish ONE snapshot, " +
          s"history: ${a.meta.snapshots.map(_.operation)}")
      // DML transaction: DELETE one table + UPDATE the other, one set
      spark.sql("BEGIN TRANSACTION")
      spark.sql("DELETE FROM graft.db.txa WHERE id = 1")
      spark.sql("UPDATE graft.db.txb SET id = id + 1 WHERE id = 10")
      spark.sql("COMMIT")
      assert(spark.sql("SELECT id FROM graft.db.txa ORDER BY id").as[Long]
        .collect().toSeq == Seq(2L, 3L))
      assert(spark.sql("SELECT id FROM graft.db.txb ORDER BY id").as[Long]
        .collect().toSeq == Seq(11L, 20L))
      // ROLLBACK discards the staged work
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.txb VALUES (99)")
      spark.sql("ROLLBACK")
      assert(spark.sql("SELECT count(*) FROM graft.db.txb")
        .head().getLong(0) == 2)
      // statement grammar guards
      intercept[Exception](spark.sql("COMMIT"))   // nothing open
      intercept[Exception](spark.sql("ROLLBACK")) // nothing open
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
    // bare stores: the transaction surface parses, COMMIT refuses
    // loudly (multi-document claims need the catalog), nothing lands
    val cat2 = freshCat()
    val c = cat2.createTable("db", "txbare", Seq("id" -> "long"))
    spark.sql("BEGIN TRANSACTION")
    spark.sql("INSERT INTO graft.db.txbare VALUES (1)")
    val e3 = intercept[UnsupportedOperationException](spark.sql("COMMIT"))
    assert(e3.getMessage.toLowerCase.contains("catalog"), e3.getMessage)
    assert(c.read().count() == 0, "refused COMMIT must land nothing")
  }

  test("view bodies resolve through the catalog path: a WHERE inside " +
      "the view file-prunes like a top-level query") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "vprune", Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      t.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    }
    spark.sql("CREATE VIEW graft.db.vprune_tail AS " +
      "SELECT id, v FROM graft.db.vprune WHERE id >= 700")
    graft.engine.GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("SELECT count(*) FROM graft.db.vprune_tail")
      .head().getLong(0) == 100L)
    assert(graft.engine.GraftTable.lastPrunedReadFiles.get() == 1L,
      "a view body's WHERE must reach the metadata-pruned read " +
        "(8 key-range files, predicate keeps 1)")
  }

  test("transactional MERGE, read-your-own-writes over DML chains, and " +
      "thread-safe staging") {
    import spark.implicits._
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = freshCat()
      val fact = cat.createTable("db", "mtxf",
        Seq("id" -> "long", "v" -> "long"))
      val idx = cat.createTable("db", "mtxi",
        Seq("id" -> "long", "fp" -> "string"))
      fact.append((0L until 100L).map(i => (i, i)).toDF("id", "v"))
      idx.append((0L until 100L).map(i => (i, s"f$i")).toDF("id", "fp"))
      // the CDC-upsert-plus-index shape: MERGE the batch into the fact
      // AND append its index rows in ONE transaction
      spark.sql("BEGIN TRANSACTION")
      spark.sql("""
        MERGE INTO graft.db.mtxf t
        USING (SELECT * FROM VALUES (5L, 5000L), (200L, 200L) AS s(sid, sv)) s
        ON t.id = s.sid
        WHEN MATCHED THEN UPDATE SET v = s.sv
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.sid, s.sv)""")
      spark.sql("INSERT INTO graft.db.mtxi VALUES (200, 'f200')")
      // read-your-own-writes: the staged merge is visible to this
      // session's reads, the committed table untouched
      assert(spark.sql(
        "SELECT v FROM graft.db.mtxf WHERE id = 5").head().getLong(0) == 5000L)
      assert(spark.sql("SELECT count(*) FROM graft.db.mtxf")
        .head().getLong(0) == 101L)
      assert(fact.read().filter(col("id") === 5L).head().getLong(1) == 5L)
      spark.sql("COMMIT")
      assert(fact.read().filter(col("id") === 5L).head().getLong(1) == 5000L)
      assert(fact.read().count() == 101)
      assert(idx.read().count() == 101)
      assert(fact.meta.currentSnapshot.get.timestampMs ==
        idx.meta.currentSnapshot.get.timestampMs)
      // ROLLBACK discards a staged merge whole
      spark.sql("BEGIN TRANSACTION")
      spark.sql("""
        MERGE INTO graft.db.mtxf t
        USING (SELECT 5L AS sid, 1L AS sv) s ON t.id = s.sid
        WHEN MATCHED THEN UPDATE SET v = s.sv""")
      assert(spark.sql(
        "SELECT v FROM graft.db.mtxf WHERE id = 5").head().getLong(0) == 1L)
      spark.sql("ROLLBACK")
      assert(fact.read().filter(col("id") === 5L).head().getLong(1) == 5000L)
      // multi-statement chain on ONE table with sequential semantics:
      // the DELETE sees the INSERT staged before it, and both land as
      // one published snapshot
      val snaps0 = fact.meta.snapshots.size
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.mtxf VALUES (300, 300), (301, 301)")
      spark.sql("DELETE FROM graft.db.mtxf WHERE id >= 300 AND id <> 301")
      assert(spark.sql(
        "SELECT count(*) FROM graft.db.mtxf WHERE id >= 300")
        .head().getLong(0) == 1L)
      spark.sql("COMMIT")
      assert(fact.read().filter(col("id") >= 300L).collect()
        .map(_.getLong(0)).toSeq == Seq(301L))
      assert(fact.meta.snapshots.size == snaps0 + 1,
        "a chained INSERT+DELETE must publish one snapshot")
      // transaction-consistent time travel across the chain: no probe
      // instant can see the INSERT without the DELETE
      val txTs = fact.meta.currentSnapshot.get.timestampMs
      assert(fact.readAsOfTime(txTs - 1).filter(col("id") >= 300L).count() == 0)
      assert(fact.readAsOfTime(txTs).filter(col("id") >= 300L).count() == 1)
      // thread-safe staging: two threads INSERT into different tables
      // inside ONE open transaction; both land (or the suite fails) —
      // the per-state lock makes interleaved staging safe
      spark.sql("BEGIN TRANSACTION")
      val threads = Seq("graft.db.mtxf" -> "(400, 400)",
        "graft.db.mtxi" -> "(400, 'f400')").map { case (tbl, row) =>
        new Thread(() => spark.sql(s"INSERT INTO $tbl VALUES $row"))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      spark.sql("COMMIT")
      assert(fact.read().filter(col("id") === 400L).count() == 1)
      assert(idx.read().filter(col("id") === 400L).count() == 1)
      // RYOW corners: (a) a self-referential INSERT's source reads the
      // transaction's preview (sequential SQL semantics), (b) a stored
      // view over a staged table expands to the preview (late binding
      // resolves through the same relation swap), (c) time travel
      // stays COMMITTED history — staged work is not a snapshot yet
      spark.sql("CREATE VIEW graft.db.mtx_v AS " +
        "SELECT count(*) AS n FROM graft.db.mtxi")
      val v0 = fact.meta.currentSnapshot.get.snapshotId
      val idxN = idx.read().count()
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.mtxi VALUES (500, 'f500')")
      assert(spark.sql("SELECT n FROM graft.db.mtx_v").head().getLong(0) ==
        idxN + 1, "view over a staged table must serve the preview")
      // self-referential: INSERT INTO t SELECT FROM t doubles the
      // preview's rows, not the committed table's
      spark.sql("INSERT INTO graft.db.mtxi " +
        "SELECT id + 1000, fp FROM graft.db.mtxi WHERE id >= 500")
      assert(spark.sql(
        "SELECT count(*) FROM graft.db.mtxi WHERE id IN (500, 1500)")
        .head().getLong(0) == 2L,
        "self-referential INSERT must read the chain's preview")
      assert(spark.sql(
        s"SELECT count(*) FROM graft.db.mtxf VERSION AS OF $v0")
        .head().getLong(0) == fact.read().count(),
        "time travel inside a transaction reads committed history")
      spark.sql("ROLLBACK")
      assert(idx.read().count() == idxN, "rollback must discard the chain")
      // MoR targets stage through SQL too: the transactional MERGE
      // writes a positional delete file + appended copy instead of
      // rewriting, and RYOW still serves the staged state
      fact.setProperties(Map(
        "write.merge.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
      val morData = fact.meta.currentSnapshot.get.files.map(_.path)
      spark.sql("BEGIN TRANSACTION")
      spark.sql("""
        MERGE INTO graft.db.mtxf t
        USING (SELECT 5L AS sid, 55L AS sv) s ON t.id = s.sid
        WHEN MATCHED THEN UPDATE SET v = s.sv""")
      assert(spark.sql(
        "SELECT v FROM graft.db.mtxf WHERE id = 5").head().getLong(0) == 55L)
      spark.sql("DELETE FROM graft.db.mtxf WHERE id = 301")
      spark.sql("COMMIT")
      assert(fact.read().filter(col("id") === 5L).head().getLong(1) == 55L)
      assert(fact.read().filter(col("id") === 301L).count() == 0)
      assert(fact.meta.currentSnapshot.get.files.map(_.path)
        .containsSlice(morData),
        "MoR transactional DML must not rewrite base data files")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }

  test("snapshot-isolated reads inside a transaction: the begin-time " +
      "pin holds across statements, explicit AS OF overrides, " +
      "COMMIT/ROLLBACK release the pin") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "si", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    def n(): Long =
      spark.sql("SELECT count(*) FROM graft.db.si").head().getLong(0)
    spark.sql("BEGIN TRANSACTION")
    assert(n() == 2, "first touch pins the committed snapshot")
    // a concurrent commit lands BETWEEN two statements of the open
    // transaction (API-level append — not transaction-mediated)
    t.append(Seq(3L).toDF("id"))
    assert(n() == 2,
      "a concurrent commit must not change a later statement's input " +
        "(snapshot isolation, not read-committed-per-statement)")
    // filtered reads take the same pin (the Filter-case swap path)
    assert(spark.sql("SELECT count(*) FROM graft.db.si WHERE id >= 3")
      .head().getLong(0) == 0)
    // the API-level cat.sql() text-rewrite path takes the same pin —
    // no surface may leak live state past the transaction view
    assert(cat.sql("SELECT count(*) AS n FROM graft.db.si")
      .head().getLong(0) == 2)
    // explicit time travel names its own snapshot — it overrides
    val vNew = t.meta.currentSnapshot.get.snapshotId
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db.si VERSION AS OF $vNew")
      .head().getLong(0) == 3)
    // a read-only transaction commits vacuously on any backend
    spark.sql("COMMIT")
    assert(n() == 3, "COMMIT releases the pin")
    spark.sql("BEGIN TRANSACTION")
    assert(n() == 3)
    t.append(Seq(4L).toDF("id"))
    assert(n() == 3)
    spark.sql("ROLLBACK")
    assert(n() == 4, "ROLLBACK releases the pin")
  }

  test("views are snapshot-isolated inside transactions: the definition " +
      "pins at first touch; a staged redefinition aborts at COMMIT when " +
      "a racer redefined; AS OF expands the definition current then") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "vsi", Seq("id" -> "long", "v" -> "long"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    spark.sql("CREATE VIEW graft.db.vsi_v AS SELECT sum(v) AS s FROM graft.db.vsi")
    val loc = cat.location("db", "vsi_v")
    def s(): Long =
      spark.sql("SELECT * FROM graft.db.vsi_v").head().getLong(0)
    // --- definition pin: a racing committed redefinition between two
    // statements must not change which definition the second expands
    spark.sql("BEGIN TRANSACTION")
    assert(s() == 30L) // first touch pins definition d1 (and the table)
    val d1 = graft.catalog.ViewIO.read(loc)
    // a racer redefines the view (simulated direct commit — same-
    // session DDL would stage into OUR transaction)
    val nextId = d1.versions.map(_.versionId).max + 1
    graft.catalog.ViewIO.commit(loc, d1.copy(
      currentVersionId = nextId,
      versions = d1.versions :+ d1.current.copy(versionId = nextId,
        sql = "SELECT count(*) AS s FROM graft.db.vsi")))
    assert(s() == 30L,
      "the second statement must expand the PINNED definition")
    // explicit time travel on the view OVERRIDES the pin (it names its
    // own version) and resolves against COMMITTED state — it must see
    // the racer's version even though the pin predates it
    assert(spark.sql(
      s"SELECT * FROM graft.db.vsi_v VERSION AS OF $nextId")
      .head().getLong(0) == 2L,
      "explicit VERSION AS OF must override the definition pin")
    spark.sql("COMMIT") // read-only
    assert(s() == 2L, "COMMIT releases the definition pin")
    // --- AS OF: the historical instant selects the definition that
    // was current THEN, and the view body reads the table as of then
    val tsAfterD1 = d1.versions.last.timestampMs
    Thread.sleep(5)
    t.append(Seq((3L, 30L)).toDF("id", "v"))
    val tsStr = java.time.Instant.ofEpochMilli(tsAfterD1)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace("T", " ")
    spark.sql(s"BEGIN TRANSACTION AS OF '$tsStr'")
    assert(s() == 30L,
      "AS OF must expand the instant's definition over the instant's data")
    spark.sql("COMMIT")
    assert(s() == 3L)
    // --- staged-redefinition revalidation: first-committer-wins
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat2 = freshCat()
      val t2 = cat2.createTable("db", "vsi2", Seq("id" -> "long"))
      t2.append(Seq(1L).toDF("id"))
      spark.sql("CREATE VIEW graft.db.vsi2_v AS " +
        "SELECT count(*) AS n FROM graft.db.vsi2")
      val loc2 = cat2.location("db", "vsi2_v")
      spark.sql("BEGIN TRANSACTION")
      spark.sql("CREATE OR REPLACE VIEW graft.db.vsi2_v AS " +
        "SELECT max(id) AS n FROM graft.db.vsi2")
      // racer redefines and COMMITS while ours is staged
      val cur = graft.catalog.ViewIO.read(loc2)
      val nid = cur.versions.map(_.versionId).max + 1
      graft.catalog.ViewIO.commit(loc2, cur.copy(
        currentVersionId = nid,
        versions = cur.versions :+ cur.current.copy(versionId = nid,
          sql = "SELECT min(id) AS n FROM graft.db.vsi2")))
      val e = intercept[Exception](spark.sql("COMMIT"))
      assert(e.getMessage.contains("committed concurrently"), e.getMessage)
      assert(graft.catalog.ViewIO.read(loc2).current.sql.contains("min(id)"),
        "the racer's committed definition must stand")
      // a racing METADATA-ONLY view commit (property change — the
      // currentVersionId does not move) must ALSO abort: the pin is
      // the view DOCUMENT version, so the racer's property can never
      // be silently overwritten by the staged redefinition
      spark.sql("BEGIN TRANSACTION")
      spark.sql("CREATE OR REPLACE VIEW graft.db.vsi2_v AS " +
        "SELECT count(*) AS n FROM graft.db.vsi2")
      val cur2 = graft.catalog.ViewIO.read(loc2)
      graft.catalog.ViewIO.commit(loc2,
        cur2.copy(properties = cur2.properties + ("owner" -> "racer")))
      val e2 = intercept[Exception](spark.sql("COMMIT"))
      assert(e2.getMessage.contains("committed concurrently"),
        e2.getMessage)
      assert(graft.catalog.ViewIO.read(loc2)
        .properties.get("owner").contains("racer"),
        "the racer's metadata-only view commit must stand")
      assert(graft.catalog.ViewIO.read(loc2).current.sql.contains("min(id)"),
        "the staged redefinition must not land")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }

  test("BEGIN TRANSACTION AS OF: reproducible multi-statement reads " +
      "over one historical instant; DML refuses (read-only)") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "asof", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val ts = t.meta.currentSnapshot.get.timestampMs
    Thread.sleep(5)
    t.append(Seq(3L).toDF("id"))
    val tsStr = java.time.Instant.ofEpochMilli(ts)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace("T", " ")
    def n(): Long =
      spark.sql("SELECT count(*) FROM graft.db.asof").head().getLong(0)
    spark.sql(s"BEGIN TRANSACTION AS OF '$tsStr'")
    assert(n() == 2, "reads must resolve to the instant's snapshot")
    // commits after BEGIN are invisible — the instant is pinned
    t.append(Seq(4L).toDF("id"))
    assert(n() == 2)
    // a table that had no snapshot at the instant reads empty (the
    // engine's readAsOfTime contract)
    val young = cat.createTable("db", "asof_young", Seq("id" -> "long"))
    young.append(Seq(7L).toDF("id"))
    assert(spark.sql("SELECT count(*) FROM graft.db.asof_young")
      .head().getLong(0) == 0)
    // historical transactions are read-only
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.db.asof VALUES (9)"))
    assert(e.getMessage.contains("read-only"), e.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE graft.db.asof ADD COLUMN extra string"))
    assert(e2.getMessage.contains("read-only"), e2.getMessage)
    spark.sql("COMMIT") // vacuous: nothing staged, any backend
    assert(n() == 4, "COMMIT releases the historical pin")
  }

  test("a chain led by INSERT still revalidates its base at COMMIT: a " +
      "racing commit aborts the transaction; pure-append chains compose") {
    import spark.implicits._
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = freshCat()
      val t = cat.createTable("db", "rv", Seq("id" -> "long"))
      t.append(Seq(1L, 2L, 3L).toDF("id"))
      // INSERT first, DELETE second: the chain's first link is an
      // append (which validates nothing on its own) — the transaction
      // must STILL abort when a racing commit moves the base, or the
      // DELETE's rewrite (planned against the stale file set) would
      // silently resurrect the racer's rows
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.rv VALUES (10)")
      spark.sql("DELETE FROM graft.db.rv WHERE id = 2")
      t.append(Seq(100L).toDF("id")) // the racing commit
      val e = intercept[Exception](spark.sql("COMMIT"))
      assert(e.getMessage.contains("committed concurrently"),
        s"expected the concurrent-commit abort, got: ${e.getMessage}")
      assert(t.read().as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 100L),
        "the aborted transaction must land NOTHING; the racer's commit stands")
      // the same race against a pure-append chain composes fine —
      // appends conflict with no base by construction
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.rv VALUES (11)")
      spark.sql("INSERT INTO graft.db.rv VALUES (12)")
      t.append(Seq(200L).toDF("id")) // racing commit again
      spark.sql("COMMIT")
      assert(t.read().as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 11L, 12L, 100L, 200L))
      // a racing METADATA-ONLY commit (schema/property change — no
      // snapshot produced) must ALSO abort a revalidating chain: the
      // pin is the metadata document version, not the snapshot id, so
      // the racer's committed property can never be silently
      // overwritten by the staged chain
      spark.sql("BEGIN TRANSACTION")
      spark.sql("ALTER TABLE graft.db.rv SET TBLPROPERTIES ('mine' = '1')")
      t.setProperties(Map("racer" -> "yes")) // metadata-only racer
      val e2 = intercept[Exception](spark.sql("COMMIT"))
      assert(e2.getMessage.contains("committed concurrently"),
        e2.getMessage)
      assert(!t.meta.properties.contains("mine"),
        "the aborted transaction must land nothing")
      assert(t.meta.properties.get("racer").contains("yes"),
        "the racer's metadata-only commit must stand")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }

  test("DDL stages inside transactions: rename + dependent view repair " +
      "commit atomically, ROLLBACK discards, non-stageable DDL refuses") {
    import spark.implicits._
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = freshCat()
      val t = cat.createTable("db", "ddl",
        Seq("id" -> "long", "Phone" -> "string"))
      t.append(Seq((1L, "555")).toDF("id", "Phone"))
      spark.sql("CREATE VIEW graft.db.ddl_v AS " +
        "SELECT Phone AS p FROM graft.db.ddl")
      val viewLoc = cat.location("db", "ddl_v")
      val schemaBefore = t.meta.currentSchema
      val viewBefore = graft.catalog.ViewIO.read(viewLoc)
      // staged ALTER: visible to this session (RYOW), committed state
      // untouched, ROLLBACK leaves schema + view catalog identical
      spark.sql("BEGIN TRANSACTION")
      spark.sql(
        "ALTER TABLE graft.db.ddl RENAME COLUMN Phone TO `Phone number`")
      assert(spark.sql(
        "SELECT `Phone number` FROM graft.db.ddl").count() == 1,
        "the staged rename must serve this session's reads")
      assert(t.meta.currentSchema.fieldByName("Phone").isDefined,
        "the committed schema must be untouched while staged")
      // the staged-DDL preconditions surface AT the statement
      val dup = intercept[Exception](spark.sql(
        "ALTER TABLE graft.db.ddl ADD COLUMN `Phone number` string"))
      assert(dup.getMessage.contains("exists"), dup.getMessage)
      spark.sql("ROLLBACK")
      assert(t.meta.currentSchema == schemaBefore,
        "ROLLBACK must leave the schema byte-identical")
      assert(graft.catalog.ViewIO.read(viewLoc) == viewBefore)
      // the reference's rename-resilience story as ONE transaction
      // (apiv15.py:352): rename the column AND repair the dependent
      // view — both land in one atomic claim set
      spark.sql("BEGIN TRANSACTION")
      spark.sql(
        "ALTER TABLE graft.db.ddl RENAME COLUMN Phone TO `Phone number`")
      spark.sql("CREATE OR REPLACE VIEW graft.db.ddl_v AS " +
        "SELECT `Phone number` AS p FROM graft.db.ddl")
      // RYOW through the STAGED view over the STAGED schema
      assert(spark.sql("SELECT p FROM graft.db.ddl_v")
        .head().getString(0) == "555")
      // committed view still serves the old pair to other readers
      assert(graft.catalog.ViewIO.read(viewLoc).current.sql
        .contains("Phone AS p"))
      spark.sql("COMMIT")
      assert(t.meta.currentSchema.fieldByName("Phone number").isDefined)
      assert(graft.catalog.ViewIO.read(viewLoc).current.sql
        .contains("`Phone number` AS p"))
      assert(spark.sql("SELECT p FROM graft.db.ddl_v")
        .head().getString(0) == "555")
      // INSERT after a staged ADD COLUMN plans against the NEW schema
      spark.sql("BEGIN TRANSACTION")
      spark.sql("ALTER TABLE graft.db.ddl ADD COLUMN note string")
      spark.sql("INSERT INTO graft.db.ddl VALUES (2, '666', 'hi')")
      assert(spark.sql(
        "SELECT note FROM graft.db.ddl WHERE id = 2").head().getString(0)
        == "hi")
      spark.sql("COMMIT")
      assert(spark.sql(
        "SELECT note FROM graft.db.ddl WHERE id = 2").head().getString(0)
        == "hi")
      // DML naming a column RENAMED earlier in the same transaction:
      // the captured condition/assignments re-resolve against the
      // chain's preview schema
      spark.sql("BEGIN TRANSACTION")
      spark.sql("ALTER TABLE graft.db.ddl RENAME COLUMN note TO memo")
      spark.sql("UPDATE graft.db.ddl SET memo = 'bye' WHERE id = 2")
      assert(spark.sql(
        "SELECT memo FROM graft.db.ddl WHERE id = 2").head().getString(0)
        == "bye")
      spark.sql("COMMIT")
      assert(spark.sql(
        "SELECT memo FROM graft.db.ddl WHERE id = 2").head().getString(0)
        == "bye")
      // non-stageable DDL refuses loudly instead of committing outside
      // the transaction (and ROLLBACK-surviving)
      spark.sql("BEGIN TRANSACTION")
      def refused(sql: String): Unit = {
        val e = intercept[Exception](spark.sql(sql))
        assert(e.getMessage.contains("BEGIN TRANSACTION"),
          s"$sql -> ${e.getMessage}")
      }
      refused("DROP TABLE graft.db.ddl")
      refused("ALTER TABLE graft.db.ddl RENAME TO graft.db.ddl2")
      refused("CREATE TABLE graft.db.brandnew (id bigint)")
      refused("DROP VIEW graft.db.ddl_v")
      refused("CREATE VIEW graft.db.brandnew_v AS SELECT 1 AS one")
      // maintenance procedures mutate immediately through the engine
      // API — the procedure flavor of the same footgun
      refused("CALL graft.system.expire_snapshots('db.ddl', 1)")
      refused("CALL graft.system.rewrite_manifests('db.ddl')")
      // ...but the read-only audits stay callable mid-transaction
      assert(spark.sql("CALL graft.system.audit_integrity('db.ddl')")
        .collect() != null)
      spark.sql("ROLLBACK")
      assert(t.meta.currentSchema.fieldByName("Phone number").isDefined,
        "refused statements must leave committed state untouched")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }

  test("a schema-only first touch (DESCRIBE) records the begin-time " +
      "pin; explicit time travel resolves committed schema even with a " +
      "staged rename; CREATE DATABASE refuses inside a transaction") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "pin1", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    // --- DESCRIBE is the first touch: it resolves the handle's schema
    // and nothing else — the pin must still record, or a commit racing
    // in before the first actual SELECT hands the transaction
    // post-race state
    spark.sql("BEGIN TRANSACTION")
    assert(spark.sql("DESCRIBE TABLE graft.db.pin1").collect().nonEmpty)
    t.append(Seq(3L).toDF("id")) // racer between DESCRIBE and SELECT
    assert(spark.sql("SELECT count(*) FROM graft.db.pin1")
      .head().getLong(0) == 2,
      "a schema-only first touch must pin like any read")
    spark.sql("COMMIT")
    // --- explicit VERSION AS OF inside a transaction with a STAGED
    // rename on the same table: the time-travel read resolves against
    // COMMITTED metadata (readAsOfVersion pairs historical files with
    // the live schema), so the relation's attributes must come from
    // the committed document, not the staged preview — otherwise the
    // rebind desyncs on the renamed column
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat2 = freshCat()
      val t2 = cat2.createTable("db", "pin2", Seq("id" -> "long"))
      t2.append(Seq(1L, 2L).toDF("id"))
      val v = t2.meta.currentSnapshot.get.snapshotId
      spark.sql("BEGIN TRANSACTION")
      spark.sql("ALTER TABLE graft.db.pin2 RENAME COLUMN id TO ident")
      // RYOW: the plain read serves the staged schema
      assert(spark.sql("SELECT ident FROM graft.db.pin2").count() == 2)
      // the explicit time travel still resolves (committed schema)
      assert(spark.sql(
        s"SELECT id FROM graft.db.pin2 VERSION AS OF $v ORDER BY id")
        .as[Long].collect().toSeq == Seq(1L, 2L))
      spark.sql("ROLLBACK")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
    // --- CREATE DATABASE has no staged form: refuse, like the rest of
    // the non-stageable DDL
    spark.sql("BEGIN TRANSACTION")
    val e = intercept[Exception](spark.sql("CREATE DATABASE graft.newdb"))
    assert(e.getMessage.contains("BEGIN TRANSACTION"), e.getMessage)
    spark.sql("ROLLBACK")
  }

  test("snapshot isolation holds against a POINTER-MOVE racer: a " +
      "rollback_to_snapshot landing between BEGIN and first touch is " +
      "rewound (the pointer LOG, not the current snapshot's creation " +
      "time, is the clean-check) and a DML chain on it aborts") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "ptrmv", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id"))
    val s1 = t.meta.currentSnapshot.get.snapshotId
    t.append(Seq(2L).toDF("id"))
    def n(): Long =
      spark.sql("SELECT count(*) FROM graft.db.ptrmv").head().getLong(0)
    spark.sql("BEGIN TRANSACTION")
    // the racer's pointer-move commit lands BETWEEN BEGIN and the
    // first touch. The rolled-back-to snapshot keeps its ORIGINAL
    // creation stamp (before the instant) — a clean-check keyed on
    // the current snapshot's creation time would pin the racer's
    // rolled-back state as clean, serving 1 row and bypassing the
    // dirty first-committer-wins refusal
    t.rollbackTo(s1)
    assert(n() == 2,
      "first touch must rewind to the begin-instant state via the " +
        "pointer log, not pin the racer's rolled-back state")
    assert(n() == 2, "the pin holds across statements")
    spark.sql("COMMIT") // read-only: vacuous on any backend
    assert(n() == 1, "COMMIT releases the pin — live state is the racer's")
    // --- the same race against a revalidating chain: the DML planned
    // against the rewound (dirty) pin must abort at COMMIT, never
    // silently land a rewrite on top of the racer's rollback
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat2 = freshCat()
      val t2 = cat2.createTable("db", "ptrmv2", Seq("id" -> "long"))
      t2.append(Seq(1L, 2L).toDF("id"))
      val s1b = t2.meta.currentSnapshot.get.snapshotId
      t2.append(Seq(3L).toDF("id"))
      spark.sql("BEGIN TRANSACTION")
      t2.rollbackTo(s1b) // pointer-move racer before first touch
      spark.sql("DELETE FROM graft.db.ptrmv2 WHERE id = 1")
      val e2 = intercept[Exception](spark.sql("COMMIT"))
      assert(e2.getMessage.contains("between BEGIN"),
        s"expected the dirty-pin abort, got: ${e2.getMessage}")
      assert(t2.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L),
        "the aborted transaction lands nothing; the rollback stands")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }

  test("SAVEPOINT / ROLLBACK TO SAVEPOINT / RELEASE: statements after " +
      "the mark are discarded, previews restore, and a chain whose " +
      "row-level DML was all rolled back composes as pure-append again") {
    import spark.implicits._
    // savepoint statements outside a transaction refuse loudly
    val e0 = intercept[Exception](spark.sql("SAVEPOINT s1"))
    assert(e0.getMessage.contains("without an open transaction"))
    val e1 = intercept[Exception](spark.sql("ROLLBACK TO SAVEPOINT s1"))
    assert(e1.getMessage.contains("without an open transaction"))
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = freshCat()
      val t = cat.createTable("db", "sv", Seq("id" -> "long"))
      t.append(Seq(1L).toDF("id"))
      def n(): Long =
        spark.sql("SELECT count(*) FROM graft.db.sv").head().getLong(0)
      def minId(): Long =
        spark.sql("SELECT min(id) FROM graft.db.sv").head().getLong(0)
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.sv VALUES (2)")
      spark.sql("SAVEPOINT s1")
      spark.sql("DELETE FROM graft.db.sv WHERE id = 1")
      spark.sql("INSERT INTO graft.db.sv VALUES (3)")
      assert(n() == 2 && minId() == 2, "RYOW before the partial rollback")
      spark.sql("SAVEPOINT s2")
      spark.sql("ROLLBACK TO SAVEPOINT s1")
      assert(n() == 2 && minId() == 1,
        "reads must serve the RESTORED preview: the DELETE and the " +
          "second INSERT are gone, the first INSERT remains")
      // marks after the target are destroyed; the target survives
      val e2 = intercept[Exception](spark.sql("ROLLBACK TO SAVEPOINT s2"))
      assert(e2.getMessage.contains("no savepoint"), e2.getMessage)
      spark.sql("ROLLBACK TO SAVEPOINT s1") // idempotent re-rollback
      // the rolled-back DELETE no longer marks the chain revalidating:
      // a racing commit composes with the remaining pure-append chain
      // instead of aborting the transaction
      t.append(Seq(100L).toDF("id"))
      spark.sql("COMMIT")
      assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 100L),
        "COMMIT publishes the surviving chain composed over the racer")
      // --- RELEASE keeps the work, destroys the mark
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.sv VALUES (5)")
      spark.sql("SAVEPOINT a")
      spark.sql("INSERT INTO graft.db.sv VALUES (6)")
      spark.sql("RELEASE SAVEPOINT a")
      val e3 = intercept[Exception](spark.sql("ROLLBACK TO SAVEPOINT a"))
      assert(e3.getMessage.contains("no savepoint"), e3.getMessage)
      spark.sql("COMMIT")
      assert(t.read().as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 5L, 6L, 100L))
      // --- re-declaring a name MOVES the mark
      spark.sql("BEGIN TRANSACTION")
      spark.sql("SAVEPOINT m")
      spark.sql("INSERT INTO graft.db.sv VALUES (7)")
      spark.sql("SAVEPOINT m")
      spark.sql("INSERT INTO graft.db.sv VALUES (8)")
      spark.sql("ROLLBACK TO SAVEPOINT m")
      spark.sql("COMMIT")
      assert(t.read().as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 5L, 6L, 7L, 100L),
        "the moved mark keeps 7 and discards 8")
      // --- names fold like unquoted SQL identifiers
      spark.sql("BEGIN TRANSACTION")
      spark.sql("SAVEPOINT Cleanup")
      spark.sql("INSERT INTO graft.db.sv VALUES (9)")
      spark.sql("ROLLBACK TO SAVEPOINT cleanup")
      spark.sql("COMMIT") // vacuous: everything rolled back
      assert(t.read().as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 5L, 6L, 7L, 100L),
        "case-folded savepoint names must resolve")
      // --- a name-less form is a SYNTAX error (Spark's parser), not
      // a misleading "no savepoint SAVEPOINT" runtime failure
      spark.sql("BEGIN TRANSACTION")
      val e4 = intercept[Exception](spark.sql("ROLLBACK TO SAVEPOINT"))
      assert(!e4.getMessage.contains("no savepoint"), e4.getMessage)
      val e5 = intercept[Exception](spark.sql("RELEASE SAVEPOINT"))
      assert(!e5.getMessage.contains("no savepoint"), e5.getMessage)
      spark.sql("ROLLBACK")
      // --- staged DDL + view redefinition roll back to a mark too
      val t2 = cat.createTable("db", "sv2", Seq("id" -> "long"))
      t2.append(Seq(1L).toDF("id"))
      spark.sql("CREATE VIEW graft.db.sv2_v AS " +
        "SELECT id FROM graft.db.sv2")
      spark.sql("BEGIN TRANSACTION")
      spark.sql("SAVEPOINT pre")
      spark.sql("ALTER TABLE graft.db.sv2 RENAME COLUMN id TO ident")
      spark.sql("CREATE OR REPLACE VIEW graft.db.sv2_v AS " +
        "SELECT ident FROM graft.db.sv2")
      assert(spark.table("graft.db.sv2").columns.toSeq == Seq("ident"),
        "RYOW serves the staged rename")
      spark.sql("ROLLBACK TO SAVEPOINT pre")
      assert(spark.table("graft.db.sv2").columns.toSeq == Seq("id"),
        "the staged rename is gone after the partial rollback")
      assert(spark.sql("SELECT * FROM graft.db.sv2_v").columns.toSeq ==
        Seq("id"), "the staged view redefinition is gone too")
      spark.sql("COMMIT") // nothing staged: vacuous
      assert(t2.meta.currentSchema.fields.map(_.name) == Vector("id"),
        "nothing published")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }

  test("a pin that can no longer RESOLVE the begin-instant snapshot " +
      "refuses loudly instead of serving an empty table") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "expin", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id"))
    spark.sql("BEGIN TRANSACTION")
    // racer: a divergent document — the begin-instant snapshot is gone
    // from `snapshots` while its pointer-log entry survives (hand-
    // truncated or corrupted metadata; engine expiry trims both
    // together). The pin's rewind cannot name the begin-instant state;
    // silently reading the table as empty would be worse than an abort
    graft.tableformat.MetadataIO.commitRetry(t.location) { cur =>
      val s = cur.currentSnapshot.get
      val id = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
      val now = System.currentTimeMillis()
      cur.copy(
        currentSnapshotId = Some(id),
        snapshots = Vector(s.copy(
          snapshotId = id, parentId = cur.currentSnapshotId,
          timestampMs = now, operation = "append")),
        snapshotLog = cur.snapshotLog :+
          graft.tableformat.SnapshotLogEntry(now, id))
    }
    val e = intercept[Exception](
      spark.sql("SELECT count(*) FROM graft.db.expin").collect())
    def chain(x: Throwable): String =
      if (x == null) "" else x.toString + chain(x.getCause)
    assert(chain(e).contains("expired"), chain(e))
    spark.sql("ROLLBACK")
    // --- the ENGINE-EXPIRY shape: a racer appends after BEGIN and
    // expireSnapshots removes every pre-instant snapshot AND its log
    // entry — the earliest surviving entry is mid-chain (its snapshot
    // has a parent), so the pin refuses rather than reading the table
    // as empty
    val t2 = cat.createTable("db", "expin2", Seq("id" -> "long"))
    t2.append(Seq(1L).toDF("id"))
    spark.sql("BEGIN TRANSACTION")
    t2.append(Seq(2L).toDF("id"))
    t2.expireSnapshots(keepLast = 1)
    val e2 = intercept[Exception](
      spark.sql("SELECT count(*) FROM graft.db.expin2").collect())
    assert(chain(e2).contains("expired"), chain(e2))
    spark.sql("ROLLBACK")
  }

  test("a pure-append chain composing over a skewed-forward racer " +
      "lifts the WHOLE transaction's shared instant: no slot may stamp " +
      "above the others (the torn TIMESTAMP AS OF window)") {
    import spark.implicits._
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = freshCat()
      val ta = cat.createTable("db", "skewa", Seq("id" -> "long"))
      val tb = cat.createTable("db", "skewb", Seq("id" -> "long"))
      ta.append(Seq(1L).toDF("id"))
      tb.append(Seq(1L).toDF("id"))
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.skewa VALUES (2)")
      spark.sql("INSERT INTO graft.db.skewb VALUES (2)")
      // cross-process racer with a +5 s clock appends to A AFTER both
      // pins — a pure-append chain legally composes over it, but the
      // engine's per-document monotonic floor would then stamp A's
      // slot 5 s above B's unless COMMIT lifts the shared instant for
      // BOTH: a TIMESTAMP AS OF probe in between would otherwise see
      // B's half of the transaction without A's
      val future = System.currentTimeMillis() + 5000L
      graft.tableformat.MetadataIO.commitRetry(ta.location) { cur =>
        val s = cur.currentSnapshot.get
        val id = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
        cur.copy(
          currentSnapshotId = Some(id),
          snapshots = cur.snapshots :+ s.copy(
            snapshotId = id, parentId = cur.currentSnapshotId,
            timestampMs = future, operation = "append"),
          snapshotLog = cur.snapshotLog :+
            graft.tableformat.SnapshotLogEntry(future, id))
      }
      spark.sql("COMMIT")
      val sa = ta.meta.currentSnapshot.get
      val sb = tb.meta.currentSnapshot.get
      assert(sa.timestampMs == sb.timestampMs,
        s"the transaction's slots diverged: A stamped ${sa.timestampMs}, " +
          s"B stamped ${sb.timestampMs} — the torn AS OF window is open")
      assert(sa.timestampMs > future,
        "the shared instant must clear the racer's skewed stamp")
      assert(ta.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L),
        "the append chain composes over the racer's snapshot")
      // per-document history stays strictly monotonic through the lift
      val stamps = ta.meta.snapshotLog.map(_.timestampMs)
      assert(stamps == stamps.sorted && stamps.distinct.size == stamps.size,
        s"non-monotonic snapshot log after the floor lift: $stamps")
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }
}
