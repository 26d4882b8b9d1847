package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.GraftTable
import graft.tableformat.SchemaHistory

class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-eng").toString

  /** Backend the forked race children install (GRAFT_FILEIO);
    * overridden by the parameterized-backend subclasses so both sides
    * of a cross-process race run the same storage semantics.
    */
  protected def childFileIOEnv: Option[String] = None

  import scala.jdk.CollectionConverters._

  test("create + append + read round-trip") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t1",
      Seq("id" -> "long", "name" -> "string"))
    t.append(Seq((1L, "alice"), (2L, "bob")).toDF("id", "name"))
    t.append(Seq((3L, "carol")).toDF("id", "name"))
    val rows = t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "alice"), (2L, "bob"), (3L, "carol")))
    assert(t.meta.snapshots.size == 2)
    assert(t.meta.currentSnapshot.get.totalRecords == 3)
  }

  test("rename column: old files still readable, historical name resolves") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "emp",
      Seq("Index" -> "long", "Phone" -> "string"))
    t.append(Seq((1L, "555-1"), (2L, "555-2")).toDF("Index", "Phone"))
    t.renameColumn("Phone", "Phone number")
    // data written pre-rename reads under the new name (field-id mapping)
    assert(t.read().columns.toSeq == Seq("Index", "Phone number"))
    assert(t.read().select("`Phone number`").as[String].collect().sorted.toSeq ==
      Seq("555-1", "555-2"))
    // reference GetColumn semantic: request by the historical name
    assert(t.readColumn("Phone").as[String].collect().sorted.toSeq ==
      Seq("555-1", "555-2"))
    // append post-rename, both vintages united
    t.append(Seq((3L, "555-3")).toDF("Index", "Phone number"))
    assert(t.read().count() == 3)
    assert(SchemaHistory.resolve(t.meta, "Phone") ==
      SchemaHistory.Renamed("Phone number", 2, 0))
  }

  test("add + drop column across existing files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t",
      Seq("id" -> "long", "name" -> "string"))
    t.append(Seq((1L, "a")).toDF("id", "name"))
    t.addColumn("age", "int")
    // old file null-fills the new column
    val r = t.read().orderBy("id").collect()
    assert(r.head.isNullAt(2))
    t.append(Seq((2L, "b", 30)).toDF("id", "name", "age"))
    t.dropColumn("name")
    assert(t.read().columns.toSeq == Seq("id", "age"))
    val vals = t.read().orderBy("id").collect().map(x =>
      (x.getLong(0), if (x.isNullAt(1)) -1 else x.getInt(1)))
    assert(vals.toSeq == Seq((1L, -1), (2L, 30)))
  }

  test("CoW delete rewrites only touched files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))   // file A
    t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"))   // file B
    val filesBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
    t.delete(col("id") === 1L)
    val after = t.meta.currentSnapshot.get
    assert(after.operation == "delete")
    assert(t.read().orderBy("id").select("id").as[Long].collect().toSeq == Seq(2L, 3L, 4L))
    // untouched file carried over byte-identical (same path)
    assert(after.files.map(_.path).toSet.intersect(filesBefore).nonEmpty)
  }

  test("CoW update") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t3",
      Seq("id" -> "long", "name" -> "string", "age" -> "int"))
    t.append(Seq((1L, "x", 30), (2L, "y", 40), (3L, "z", 50)).toDF("id", "name", "age"))
    t.update(col("id") === 1L, Map("age" -> lit(31)))
    val got = t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 31), (2L, 40), (3L, 50)))
  }

  test("CoW update: multi-column assignments see the ORIGINAL row") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "swap",
      Seq("id" -> "long", "a" -> "string", "b" -> "string"))
    t.append(Seq((1L, "a1", "b1"), (2L, "a2", "b2")).toDF("id", "a", "b"))
    // SET a = b, b = a must SWAP (SQL semantics), not copy b into both
    t.update(col("id") === 1L, Map("a" -> col("b"), "b" -> col("a")))
    val got = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, "b1", "a1"), (2L, "a2", "b2")))
    // RHS referencing another ASSIGNED column also reads the original
    t.update(col("id") === 2L,
      Map("a" -> concat(col("a"), lit("+"), col("b")), "b" -> col("a")))
    val got2 = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got2.toSeq == Seq((1L, "b1", "a1"), (2L, "a2+b2", "a2")))
    // a WHERE referencing an assigned column evaluates pre-mutation
    t.update(col("b") === "a1", Map("b" -> lit("seen"), "a" -> col("b")))
    val got3 = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got3.toSeq == Seq((1L, "a1", "seen"), (2L, "a2+b2", "a2")))
  }

  test("UPDATE targets resolve case-insensitively to exactly one column") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "ci",
      Seq("id" -> "long", "Name" -> "string"))
    t.append(Seq((1L, "x"), (2L, "y")).toDF("id", "Name"))
    // differently-cased target resolves to the single matching column
    t.update(col("id") === 1L, Map("NAME" -> lit("z")))
    assert(t.read().orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("z", "y"))
    // unknown target fails loudly
    val ex = intercept[RuntimeException] {
      t.update(col("id") === 1L, Map("nope" -> lit("q")))
    }
    assert(ex.getMessage.contains("not in table"))
    // two keys folding onto one column = duplicate targets
    val dup = intercept[IllegalArgumentException] {
      t.update(col("id") === 1L, Map("name" -> lit("a"), "NAME" -> lit("b")))
    }
    assert(dup.getMessage.contains("duplicate"))
  }

  test("commit timestamps are strictly monotonic per table") {
    import spark.implicits._
    // rapid commits can land in one wall-clock millisecond; history
    // order must never fall back to the random snapshot id
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long"))
    (1 to 5).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    val ts = t.meta.snapshots.map(_.timestampMs)
    assert(ts == ts.sorted && ts.distinct.size == ts.size,
      s"timestamps must be strictly increasing: $ts")
  }

  test("time travel by version and by time") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val v1 = t.meta.currentSnapshot.get
    Thread.sleep(5)
    t.append(Seq(3L).toDF("id"))
    val v2 = t.meta.currentSnapshot.get
    assert(t.readAsOfVersion(v1.snapshotId).count() == 2)
    assert(t.readAsOfVersion(v2.snapshotId).count() == 3)
    assert(t.readAsOfTime(v1.timestampMs).count() == 2)
    assert(t.readAsOfTime(System.currentTimeMillis()).count() == 3)
    assert(t.readAsOfTime(v1.timestampMs - 1000).count() == 0) // before first
  }

  test("metadata tables: history, snapshots, refs, metadata_log") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id"))
    t.append(Seq(2L).toDF("id"))
    assert(t.history.columns.toSeq ==
      Seq("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor"))
    assert(t.history.count() == 2)
    assert(t.history.filter(col("is_current_ancestor")).count() == 2)
    assert(t.snapshotsDf.select("operation").as[String].collect().toSet == Set("append"))
    assert(t.refs.count() == 1)
    assert(t.metadataLogEntries.count() >= 3) // create + 2 appends
  }

  test("changelog: appends are inserts, deletes are deletes") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val changes = t.createChangelogView("t_changes")
    val got = changes.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((3L, "insert")))
    t.delete(col("id") === 1L)
    val cur = t.meta.currentSnapshot.get
    val del = t.changelog(cur.parentId, cur.snapshotId).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(del == Set((1L, "delete")))
    // distinct _change_type query from notebook cell 35
    assert(spark.sql("SELECT DISTINCT _change_type FROM t_changes")
      .as[String].collect().toSeq == Seq("insert"))
  }

  test("changelog pairs delete+insert on a declared cdc key into " +
      "update pre/post images") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "cdc",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("graft.cdc.key" -> "id"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // one commit rewriting id=2 (CoW update = delete old + insert new)
    t.update(col("id") === 2L, Map("v" -> lit("B")))
    val cur = t.meta.currentSnapshot.get
    val got = t.changelog(cur.parentId, cur.snapshotId).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage")))
    // unpaired rows keep plain labels: a delete with no matching insert
    t.delete(col("id") === 1L)
    val cur2 = t.meta.currentSnapshot.get
    val del = t.changelog(cur2.parentId, cur2.snapshotId).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(del == Set((1L, "delete")))
    // without the property, the same update stays delete+insert
    val u = GraftTable.create(spark, tmp(), "nocdc",
      Seq("id" -> "long", "v" -> "string"))
    u.append(Seq((1L, "a")).toDF("id", "v"))
    u.update(col("id") === 1L, Map("v" -> lit("A")))
    val ucur = u.meta.currentSnapshot.get
    assert(u.changelog(ucur.parentId, ucur.snapshotId)
      .select("_change_type").as[String].collect().toSet ==
      Set("insert", "delete"))
    // pairing is ONE exchange on the bare key over the delta — the
    // ordered rank and the side-counts share the partitioning; a
    // second pairing-stage shuffle (e.g. on (key, rank)) would double
    // the delta movement at CDC scale
    val plan = t.changelog(cur.parentId, cur.snapshotId)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("__rk#") ||
      !plan.split("\n").exists(l => l.contains("Exchange") && l.contains("__")),
      s"pairing must not shuffle on derived columns:\n$plan")
  }

  test("all_data_files / all_delete_files keep history the current " +
      "views no longer show") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "adf",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") % 2 === 0) // MoR: adds a positional delete file
    val delPath = t.meta.currentSnapshot.get.deleteFiles.head.path
    val dataPaths0 = t.meta.currentSnapshot.get.files.map(_.path).toSet
    // a FULL rewrite materializes the deletes away (binpack's partial
    // contract carries them): current snapshot drops both the delete
    // file and the original data files
    t.rewriteDataFiles(Seq("id"))
    val cur = t.meta.currentSnapshot.get
    assert(cur.deleteFiles.isEmpty)
    assert(cur.files.map(_.path).toSet.intersect(dataPaths0).isEmpty)
    // ...but the union-of-history views still carry them
    val allData = t.allDataFilesDf.select("file_path").as[String]
      .collect().toSet
    assert(dataPaths0.subsetOf(allData))
    assert(cur.files.map(_.path).toSet.subsetOf(allData))
    val allDel = t.allDeleteFilesDf
      .select("file_path", "content").as[(String, Int)].collect().toSet
    assert(allDel.contains((delPath, 1)), s"missing $delPath in $allDel")
    // while the current-only views agree with the snapshot
    assert(t.deleteFilesDf.count() == 0)
    assert(t.positionDeletesDf.count() == 0)
  }

  test("position_deletes lists each tombstone row with its carrier " +
      "and sequence; empty without MoR deletes") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "posdel",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .orderBy("id").coalesce(1))
    assert(t.positionDeletesDf.count() == 0)
    t.delete(col("id") % 2 === 0)
    val delPath = t.meta.currentSnapshot.get.deleteFiles.head.path
    val delSeq = t.meta.currentSnapshot.get.deleteFiles.head.seq
    val got = t.positionDeletesDf
      .select("pos", "delete_file_path", "sequence_number")
      .as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
    // one sorted single-file append: ids 2,4,6,8,10 sit at 0-based
    // positions 1,3,5,7,9
    assert(got.map(_._1) == Seq(1L, 3L, 5L, 7L, 9L), got.toString)
    assert(got.forall(r => r._2 == delPath && r._3 == delSeq), got.toString)
    // tombstone totals agree with the manifest-level delete_files view
    assert(t.deleteFilesDf.filter(col("content") === 1)
      .select(sum("record_count")).as[Long].collect().head == 5L)
  }

  test("cdc pairing ranks duplicates: k-th delete pairs k-th insert, " +
      "leftovers keep plain labels") {
    import spark.implicits._
    // malformed-but-possible input under a declared key: 2 deletes and
    // 1 insert on one key in a single range — min-pairing must label
    // one pair and leave the extra delete plain, deterministically
    val t = GraftTable.create(spark, tmp(), "cdcdup",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("graft.cdc.key" -> "id"))
    t.append(Seq((1L, "a"), (1L, "b"), (2L, "x")).toDF("id", "v"))
    // one commit: CoW delete of both id=1 rows plus append of one new
    // id=1 row — overwrite expresses that as one snapshot
    t.overwrite(Seq((1L, "c"), (2L, "x")).toDF("id", "v"))
    val cur = t.meta.currentSnapshot.get
    val got = t.changelog(cur.parentId, cur.snapshotId).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // deterministic whole-row order: delete "a" ranks 1 and pairs the
    // single insert "c"; delete "b" ranks 2 and stays a plain delete
    assert(got == Set(
      (1L, "a", "update_preimage"), (1L, "c", "update_postimage"),
      (1L, "b", "delete")))
  }

  test("hidden partitioning day(ts): layout + metadata pruning") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "ev",
      Seq("id" -> "long", "added_at" -> "timestamp"),
      partition = Seq("added_at" -> "day"))
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-02-23 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2025-02-23 11:00:00")),
      (3L, java.sql.Timestamp.valueOf("2025-02-24 09:00:00"))
    ).toDF("id", "added_at")
    t.append(df)
    val files = t.meta.currentSnapshot.get.files
    assert(files.forall(_.partitionValues.contains("added_at_day")))
    assert(files.map(_.partitionValues("added_at_day")).toSet ==
      Set("2025-02-23", "2025-02-24"))
    // partition cols are layout-only: data files carry the real columns
    assert(t.read().columns.toSeq == Seq("id", "added_at"))
    // metadata-only pruning
    val pruned = t.readPruned(pv => pv.get("added_at_day").contains("2025-02-23"))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("transform set: bucket/truncate/month/year layouts + literal agreement") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.engine.PartitionTransforms
    val t = GraftTable.create(spark, tmp(), "tr",
      Seq("id" -> "long", "domain" -> "string", "added_at" -> "timestamp"),
      partition = Seq("id" -> "bucket(8)", "domain" -> "truncate(3)",
        "added_at" -> "month"))
    val rows = Seq(
      (7L, "alpha.org", java.sql.Timestamp.valueOf("2025-02-23 10:00:00")),
      (8L, "alphabet.com", java.sql.Timestamp.valueOf("2025-03-01 00:00:00")),
      (9L, "beta.io", java.sql.Timestamp.valueOf("2025-03-15 23:59:59")))
    t.append(rows.toDF("id", "domain", "added_at"))
    // every recorded value equals the driver-side transform of the same
    // literal — the pairing pruning depends on
    val byBucket = t.meta.currentSnapshot.get.files
      .flatMap(f => f.partitionValues.get("id_bucket")).toSet
    assert(rows.map(r => PartitionTransforms.ofLiteral(
      "bucket(8)", "long", Literal(r._1)).get).toSet == byBucket)
    val byTrunc = t.meta.currentSnapshot.get.files
      .flatMap(_.partitionValues.get("domain_trunc")).toSet
    assert(byTrunc == Set("alp", "bet"))
    assert(PartitionTransforms.ofLiteral("truncate(3)", "string",
      Literal.create(org.apache.spark.unsafe.types.UTF8String
        .fromString("alphabet.com"),
        org.apache.spark.sql.types.StringType)).contains("alp"))
    val byMonth = t.meta.currentSnapshot.get.files
      .flatMap(_.partitionValues.get("added_at_month")).toSet
    assert(byMonth == Set("2025-02", "2025-03"))
    // negative ints truncate FLOORED (Iceberg semantics)
    assert(PartitionTransforms.ofLiteral("truncate(10)", "long",
      Literal(-7L)).contains("-10"))
    // rows all come back, partition cols stay hidden
    assert(t.read().count() == 3)
    assert(t.read().columns.toSeq == Seq("id", "domain", "added_at"))
    // incompatible transform/type pairs are rejected at DDL time
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), "bad",
        Seq("s" -> "string"), partition = Seq("s" -> "month"))
    }
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), "bad2",
        Seq("d" -> "double"), partition = Seq("d" -> "truncate(2)"))
    }
  }

  test("identity partitioning") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t2",
      Seq("id" -> "int", "name" -> "string"),
      partition = Seq("id" -> "identity"))
    t.append(Seq((1, "a"), (1, "b"), (2, "c")).toDF("id", "name"))
    val files = t.meta.currentSnapshot.get.files
    assert(files.map(_.partitionValues("id")).toSet == Set("1", "2"))
    assert(t.read().count() == 3)
    assert(t.readPruned(_.get("id").contains("1")).count() == 2)
  }

  test("CTAS and REPLACE TABLE AS SELECT with spec evolution") {
    import spark.implicits._
    val loc = tmp()
    val src = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "x")
    val t = GraftTable.createAs(spark, loc, "ctas", src,
      partition = Seq("id" -> "identity"))
    assert(t.read().count() == 2)
    // RTAS: different column set, unpartitioned (reference cell 13 behavior)
    GraftTable.replaceAs(spark, loc, Seq((9L, "z")).toDF("id", "name"))
    val t2 = GraftTable.load(spark, loc)
    assert(t2.read().columns.toSeq == Seq("id", "name"))
    assert(t2.read().count() == 1)
    assert(t2.meta.partitionSpecs.size == 2)
    assert(t2.meta.currentSpec.fields.isEmpty)
    // history preserved across replace
    assert(t2.meta.snapshots.size == 2)
  }

  test("DELETE keeps rows where the predicate evaluates to NULL") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t",
      Seq("id" -> "long", "score" -> "int"))
    t.append(Seq((1L, Some(5)), (2L, None), (3L, Some(15)))
      .toDF("id", "score"))
    t.delete(col("score") < 10) // NULL < 10 is NULL, not TRUE: row 2 stays
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("DML matches files with URI-hostile partition values (spaces, %)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t",
      Seq("cat" -> "string", "n" -> "long"),
      partition = Seq("cat" -> "identity"))
    t.append(Seq(("has space", 1L), ("pct%40", 2L), ("plain", 3L))
      .toDF("cat", "n"))
    t.delete(col("cat") === "has space")
    assert(t.read().select("cat").as[String].collect().sorted.toSeq ==
      Seq("pct%40", "plain"))
    t.update(col("cat") === "pct%40", Map("n" -> lit(20L)))
    assert(t.read().filter(col("cat") === "pct%40")
      .select("n").as[Long].collect().toSeq == Seq(20L))
  }

  test("partition values with '+' round-trip the manifest (no URL decode)") {
    import spark.implicits._
    // Spark's Hive-style path escaping leaves '+' unescaped;
    // URLDecoder-style decoding would record "C  " and pruning would
    // silently drop the file
    val t = GraftTable.create(spark, tmp(), "t",
      Seq("lang" -> "string", "n" -> "long"),
      partition = Seq("lang" -> "identity"))
    t.append(Seq(("C++", 1L), ("a+b=c", 2L), ("go", 3L)).toDF("lang", "n"))
    val pvals = t.meta.currentSnapshot.get.files
      .flatMap(_.partitionValues.get("lang")).toSet
    assert(pvals == Set("C++", "a+b=c", "go"), s"manifest recorded $pvals")
    assert(t.readPruned(_.get("lang").contains("C++"))
      .select("n").as[Long].collect().toSeq == Seq(1L))
    t.delete(col("lang") === "a+b=c")
    assert(t.read().select("lang").as[String].collect().sorted.toSeq ==
      Seq("C++", "go"))
  }

  test("stats pruning: targeted DELETE considers only candidate files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t",
      Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))   // ids 1-2
    t.append(Seq((10L, "c"), (11L, "d")).toDF("id", "v").coalesce(1)) // ids 10-11
    t.append(Seq((20L, "e")).toDF("id", "v").coalesce(1))             // id 20
    val files = t.meta.currentSnapshot.get.files
    assert(files.size == 3)
    assert(files.forall(_.lowerBounds.nonEmpty), "footer bounds recorded")
    // a 1-row-targeted predicate prunes to exactly the containing file
    assert(t.candidateFiles(col("id") === 10L).size == 1)
    assert(t.candidateFiles(col("id") === 10L || col("id") === 20L).size == 2)
    assert(t.candidateFiles(col("id") > 11L).size == 1)
    assert(t.candidateFiles(col("id") < 0L).isEmpty)
    assert(t.candidateFiles(col("v") === "d").size == 1)
    // unprunable predicate keeps everything (conservative)
    assert(t.candidateFiles(upper(col("v")) === "D").size == 3)
    t.delete(col("id") === 10L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 11L, 20L))
  }

  test("stats pruning compares float/double literals in the decimal domain") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t",
      Seq("id" -> "long", "price" -> "double"))
    t.append(Seq((1L, 100.05), (2L, 0.1)).toDF("id", "price").coalesce(1))
    // BigDecimal(100.05) is the binary expansion, bounds are "100.05" —
    // a domain mismatch would prune the only file and silently no-op
    assert(t.candidateFiles(col("price") === 100.05).size == 1)
    assert(t.candidateFiles(col("price") <= 0.1).size == 1)
    t.delete(col("price") === 100.05)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("changelog and incremental scan reject unknown/invalid ranges") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id"))
    val v1 = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("id") === 1L) // a rewrite commit
    t.append(Seq(2L).toDF("id"))
    val v3 = t.meta.currentSnapshot.get.snapshotId
    // expired/unknown start snapshot: loud error, not "whole table as inserts"
    intercept[RuntimeException](t.changelog(Some(999L), v3).collect())
    // incremental append scan across a delete/rewrite commit is invalid
    val e = intercept[IllegalArgumentException](t.readAppendsBetween(Some(v1), v3))
    assert(e.getMessage.contains("not append"))
  }

  test("changelog of a pure append never reads carried-over files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    val cur = t.meta.currentSnapshot.get
    val df = t.changelog(cur.parentId, cur.snapshotId)
    // manifest-level diff: the plan reads only the file added by the
    // second append, not the whole table
    assert(df.inputFiles.length == 1)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("incremental append scan reads only files added since a snapshot") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val v1 = t.meta.currentSnapshot.get.snapshotId
    t.append(Seq(3L).toDF("id"))
    t.append(Seq(4L, 5L).toDF("id"))
    val v3 = t.meta.currentSnapshot.get.snapshotId
    val inc = t.readAppendsBetween(Some(v1), v3)
    val expectedAdded = t.meta.snapshotById(v3).get.files.size -
      t.meta.snapshotById(v1).get.files.size
    assert(inc.inputFiles.length == expectedAdded, "only the appended files")
    assert(inc.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
    // from None = everything
    assert(t.readAppendsBetween(None, v3).count() == 5)
  }

  test("setProperties persists table properties") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t", Seq("id" -> "long"))
    t.setProperties(Map("write.delete.mode" -> "copy-on-write",
      "owner" -> "graft"))
    assert(t.meta.properties("owner") == "graft")
    assert(t.meta.properties("format-version") == "2")
  }

  test("concurrent appends from two threads never lose a snapshot") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "race",
      Seq("id" -> "long", "writer" -> "string"))
    val n = 4
    @volatile var failure: Option[Throwable] = None
    def appender(tag: String): Thread = new Thread(() => {
      try {
        val mine = GraftTable.load(spark, loc)
        for (i <- 0 until n)
          mine.append(Seq((i.toLong, tag)).toDF("id", "writer"))
      } catch { case e: Throwable => failure = Some(e) }
    })
    val (t1, t2) = (appender("w1"), appender("w2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    failure.foreach(e => fail(s"appender failed: $e"))
    val m = t.meta
    // every append landed as its own snapshot and no rows were lost
    assert(m.snapshots.size == 2 * n, s"lost snapshots: ${m.snapshots.size}")
    assert(t.read().count() == 2 * n)
    // the parent chain from current reaches every snapshot (appends
    // rebased onto each other, never forked or overwrote)
    val chain = Iterator.unfold(m.currentSnapshotId) {
      case Some(id) => m.snapshotById(id).map(s => (id, s.parentId))
      case None     => None
    }.toSeq
    assert(chain.size == 2 * n, s"broken parent chain: ${chain.size}")
  }

  test("multi-writer race across the DML surface: appends + CoW deletes " +
      "+ CoW updates land exactly once, history stays linear") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "race2",
      Seq("id" -> "long", "src" -> "string"))
    // seeds the row-level writers will target, so the final state is
    // deterministic no matter how the race interleaves: the deleter
    // removes -1..-nDel one commit at a time; the updater rewrites
    // 10001..10000+nUpd
    val (nDel, nUpd, nApp) = (4, 4, 5)
    t.append(((1 to nDel).map(i => (-i.toLong, "seed")) ++
      (1 to nUpd).map(i => (10000L + i, "seed"))).toDF("id", "src"))
    @volatile var failure: Option[Throwable] = None
    def guard(body: => Unit): Thread = new Thread(() => {
      try body catch { case e: Throwable => failure = Some(e) }
    })
    // CoW row-level DML REFUSES a concurrent commit (its rewrite is
    // computed against one base snapshot) — the documented contract is
    // that the CALLER re-runs the whole operation; this wrapper is
    // that caller
    def retrying(op: GraftTable => Unit, mine: GraftTable): Unit = {
      var done = false
      while (!done) {
        try { op(mine); done = true }
        catch {
          case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("concurrent commit") =>
        }
      }
    }
    // each writer drives its OWN SparkSession over the shared context —
    // the two-jobs-on-one-cluster shape, not two handles in one session
    val appenders = Seq("w1" -> 1000L, "w2" -> 2000L).map { case (tag, base) =>
      guard {
        val sess = spark.newSession()
        import sess.implicits._
        val mine = GraftTable.load(sess, loc)
        for (i <- 0 until nApp)
          mine.append(Seq((base + i, tag)).toDF("id", "src"))
      }
    }
    val deleter = guard {
      val mine = GraftTable.load(spark.newSession(), loc)
      for (i <- 1 to nDel)
        retrying(_.delete(col("id") === -i.toLong), mine)
    }
    val updater = guard {
      val mine = GraftTable.load(spark.newSession(), loc)
      for (i <- 1 to nUpd)
        retrying(_.update(col("id") === (10000L + i),
          Map("src" -> lit("updated"))), mine)
    }
    val threads = appenders ++ Seq(deleter, updater)
    threads.foreach(_.start()); threads.foreach(_.join())
    failure.foreach(e => fail(s"writer failed: $e"))
    val m = t.meta
    // exactly-once: every commit is its own snapshot — 1 seed +
    // 2*nApp appends + nDel deletes + nUpd updates, none lost, none
    // double-applied
    assert(m.snapshots.size == 1 + 2 * nApp + nDel + nUpd,
      s"snapshot count: ${m.snapshots.size}")
    val rows = t.read().as[(Long, String)].collect().toSet
    val expected =
      (0 until nApp).flatMap(i => Seq((1000L + i, "w1"), (2000L + i, "w2")))
        .toSet ++ (1 to nUpd).map(i => (10000L + i, "updated")).toSet
    assert(rows == expected)
    // linear history: the parent chain from current reaches EVERY
    // snapshot (no fork, no overwrite)
    val chain = Iterator.unfold(m.currentSnapshotId) {
      case Some(id) => m.snapshotById(id).map(s => (id, s.parentId))
      case None     => None
    }.toSeq
    assert(chain.size == m.snapshots.size, s"forked history: ${chain.size}")
  }

  test("cross-process commit race: two forked JVMs plus this session " +
      "racing appends and CoW deletes on one warehouse — every commit " +
      "lands exactly once, history stays linear") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "xrace",
      Seq("id" -> "long", "src" -> "string"))
    // seed the delete targets so the final state is deterministic
    t.append((1 to 4).map(i => (-i.toLong, "seed")).toDF("id", "src"))
    val logDir = java.nio.file.Files.createTempDirectory("graft-xrace")
    def fork(tag: String, base: Long, dels: String): Process =
      ForkHelper.forkJava("graft.RaceChild",
        Seq(loc, tag, base.toString, "4", dels), childFileIOEnv, logDir, tag)
    val p1 = fork("w1", 1000L, "-1,-2")
    val p2 = fork("w2", 2000L, "-3,-4")
    // this session races too, through the same caller-retries contract
    for (i <- 0 until 4)
      t.append(Seq((3000L + i, "w0")).toDF("id", "src"))
    assert(p1.waitFor(240, java.util.concurrent.TimeUnit.SECONDS) &&
      p2.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
      "forked writers did not finish")
    assert(p1.exitValue() == 0 && p2.exitValue() == 0,
      s"forked writer failed: ${p1.exitValue()}/${p2.exitValue()}")
    val m = t.meta
    // exactly-once across processes: 1 seed + 3*4 appends + 4 deletes
    assert(m.snapshots.size == 17, s"snapshot count: ${m.snapshots.size}")
    val rows = t.read().as[(Long, String)].collect().toSet
    val expected = (0 until 4).flatMap(i => Seq((1000L + i, "w1"),
      (2000L + i, "w2"), (3000L + i, "w0"))).toSet
    assert(rows == expected)
    // linear history: the parent chain from current reaches EVERY
    // snapshot — no fork, no overwrite, across process boundaries
    val chain = Iterator.unfold(m.currentSnapshotId) {
      case Some(id) => m.snapshotById(id).map(s => (id, s.parentId))
      case None     => None
    }.toSeq
    assert(chain.size == m.snapshots.size, s"forked history: ${chain.size}")
  }

  test("schema evolution golden replay: reference `test` table (6 schemas)") {
    import spark.implicits._
    // create(id int, name string, added_at ts) -> rename name->new_name
    // -> rename back + add age -> add birthday -> drop age -> re-add age
    val t = GraftTable.create(spark, tmp(), "test",
      Seq("id" -> "int", "name" -> "string", "added_at" -> "timestamp"))
    t.renameColumn("name", "new_name")
    t.renameColumn("new_name", "name")
    t.addColumn("age", "string")
    t.addColumn("birthday", "date")
    t.dropColumn("age")
    t.addColumn("age", "string")
    val m = t.meta
    assert(m.schemas.size == 7)
    val ageIds = m.schemas.flatMap(_.fields.filter(_.name == "age").map(_.id)).distinct
    assert(ageIds.size == 2, s"re-added age must get a fresh field-id, got $ageIds")
    assert(m.currentSchema.fieldNames == Vector("id", "name", "added_at", "birthday", "age"))
  }

  test("CoW MERGE rewrites only files containing matched rows") {
    import spark.implicits._
    import graft.engine._
    val t = GraftTable.create(spark, tmp(), "mg",
      Seq("id" -> "long", "v" -> "int"))
    t.append(Seq((1L, 1), (2L, 2)).toDF("id", "v").coalesce(1))
    t.append(Seq((10L, 10), (11L, 11)).toDF("id", "v").coalesce(1))
    val before = t.meta.currentSnapshot.get.files.map(_.path)
    assert(before.size == 2)
    val src = Seq((1L, 100)).toDF("sid", "sv")
    t.merge(src, col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Nil)
    val after = t.meta.currentSnapshot.get.files.map(_.path)
    // the file holding ids 10/11 carries over untouched; the matched
    // file is rewritten
    assert(after.toSet.intersect(before.toSet).size == 1,
      s"expected exactly one untouched file, before=$before after=$after")
    assert(t.read().orderBy("id").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 100), (2L, 2), (10L, 10), (11L, 11)))
  }

  test("MERGE on an empty table takes the insert path; no-op merges skip commits") {
    import spark.implicits._
    import graft.engine._
    val t = GraftTable.create(spark, tmp(), "mg2",
      Seq("id" -> "long", "v" -> "int"))
    val src = Seq((1L, 1), (2L, 2)).toDF("sid", "sv")
    t.merge(src, col("id") === col("sid"),
      matched = Seq(MergeDeleteClause(None)),
      notMatched = Seq(MergeInsertValuesClause(Some(col("sv") > 1),
        Map("id" -> col("sid"), "v" -> col("sv")))))
    assert(t.read().orderBy("id").as[(Long, Int)].collect().toSeq == Seq((2L, 2)))
    val snaps = t.meta.snapshots.size
    // every source row matches but no clause's condition holds: the
    // touched file is rewritten (one new snapshot — merge cannot know
    // rows were untouched without evaluating them) and matched rows
    // with NO applicable clause survive unchanged exactly once
    t.merge(Seq((2L, 0)).toDF("sid", "sv"), col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(Some(col("sv") > 99), Map("v" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(Some(col("sv") > 99),
        Map("id" -> col("sid"), "v" -> col("sv")))))
    assert(t.meta.snapshots.size == snaps + 1)
    assert(t.read().orderBy("id").as[(Long, Int)].collect().toSeq == Seq((2L, 2)))
    // a merge whose source matches NOTHING and inserts nothing is a
    // true no-op: no snapshot commits
    val snaps2 = t.meta.snapshots.size
    t.merge(Seq((999L, 0)).toDF("sid", "sv"), col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(Some(col("sv") > 99),
        Map("id" -> col("sid"), "v" -> col("sv")))))
    assert(t.meta.snapshots.size == snaps2)
    assert(t.read().orderBy("id").as[(Long, Int)].collect().toSeq == Seq((2L, 2)))
  }

  test("column type widening: old files read through the field-id cast") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "wide",
      Seq("id" -> "long", "v" -> "int"))
    t.append(Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    t.alterColumnType("v", "long")
    t.append(Seq((3L, 30L)).toDF("id", "v"))
    val got = t.read().orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(t.read().schema("v").dataType.typeName == "long")
    // narrowing would corrupt historical reads: refused
    intercept[IllegalArgumentException](t.alterColumnType("v", "int"))
    // lossy promotions refused: long->double drops precision above
    // 2^53; a decimal without enough integer digits would null
    // historical values through the read-time cast
    intercept[IllegalArgumentException](t.alterColumnType("v", "double"))
    intercept[IllegalArgumentException](t.alterColumnType("v", "decimal(10,0)"))
    intercept[IllegalArgumentException](t.alterColumnType("v", "decimal(20,2)"))
    t.alterColumnType("v", "decimal(19,0)") // long needs 19 integer digits
    assert(t.read().schema("v").dataType.typeName == "decimal(19,0)")
    t.alterColumnType("v", "decimal(25,0)") // precision may only grow
    intercept[IllegalArgumentException](t.alterColumnType("v", "decimal(25,2)"))
    assert(t.read().orderBy("id").collect().map(_.get(1).toString).toSeq ==
      Seq("10", "20", "30"))
    // the same field-id spans both types (promotion, not drop+add)
    assert(t.meta.schemas.flatMap(_.fields.filter(_.name == "v").map(_.id))
      .distinct.size == 1)
  }

  test("partition spec evolution: mixed layouts prune without rewrites") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "specs",
      Seq("id" -> "long", "typ" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "typ")) // unpartitioned files
    t.setPartitionSpec(Seq("typ" -> "identity"))
    t.append(Seq((3L, "a"), (4L, "b")).toDF("id", "typ")) // identity layout
    val m = t.meta
    assert(m.partitionSpecs.size == 2 && m.currentSpecId == 1)
    val files = m.currentSnapshot.get.files
    assert(files.exists(_.partitionValues.isEmpty), "old layout kept")
    assert(files.exists(_.partitionValues.get("typ").contains("a")), "new layout applied")
    // absent-key-keeps semantics: old files can't prove exclusion
    val pruned = t.readPruned(pv => pv.get("typ").forall(_ == "a"))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(t.read().count() == 4)
  }

  test("sorted compaction makes stats pruning near-exact") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "sc", Seq("id" -> "long", "v" -> "int"))
    // interleaved appends: every file's id range overlaps every other,
    // so a point predicate can prune nothing
    val ids = (0L until 400L)
    t.append(ids.filter(_ % 4 == 0).map(i => (i, 0)).toDF("id", "v").coalesce(1))
    t.append(ids.filter(_ % 4 == 1).map(i => (i, 1)).toDF("id", "v").coalesce(1))
    t.append(ids.filter(_ % 4 == 2).map(i => (i, 2)).toDF("id", "v").coalesce(1))
    t.append(ids.filter(_ % 4 == 3).map(i => (i, 3)).toDF("id", "v").coalesce(1))
    assert(t.candidateFiles(col("id") === 7L).size == 4, "overlapping ranges: no pruning")
    t.rewriteDataFiles(sortBy = Seq("id"), targetFiles = 4)
    val after = t.candidateFiles(col("id") === 7L)
    assert(t.meta.currentSnapshot.get.files.size > 1, "compaction kept multiple files")
    assert(after.size == 1, s"disjoint sorted ranges must prune to one file, got ${after.size}")
    // contents unchanged by the clustered rewrite
    assert(t.read().as[(Long, Int)].collect().sorted.toSeq ==
      ids.map(i => (i, (i % 4).toInt)).toSeq)
    intercept[IllegalArgumentException](t.rewriteDataFiles(sortBy = Seq("nope")))
  }

  test("Z-order compaction prunes on every clustered column") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "zc",
      Seq("x" -> "long", "y" -> "long"))
    // full 64x64 grid: every (x, y); appended in row-major quarters so
    // pre-compaction files span the whole y range
    val grid = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    grid.grouped(1024).foreach(g => t.append(g.toDF("x", "y").coalesce(1)))
    val total = t.meta.currentSnapshot.get.files.size
    assert(t.candidateFiles(col("y") === 7L).size == total,
      "row-major layout cannot prune on y")
    t.rewriteDataFilesZOrder(Seq("x", "y"), targetFiles = 16)
    val n = t.meta.currentSnapshot.get.files.size
    assert(n > 4, s"compaction must keep several files, got $n")
    val px = t.candidateFiles(col("x") === 5L).size
    val py = t.candidateFiles(col("y") === 7L).size
    assert(px < n && py < n,
      s"z-order must prune on BOTH dimensions: x->$px, y->$py of $n")
    // a 2-D point predicate intersects few hyper-rectangles
    val pxy = t.candidateFiles(col("x") === 5L && col("y") === 7L).size
    assert(pxy <= math.min(px, py))
    // contents unchanged
    assert(t.read().count() == 64L * 64L)
    assert(t.read().distinct().count() == 64L * 64L)
    intercept[IllegalArgumentException](t.rewriteDataFilesZOrder(Seq("x")))
    // timestamp columns bucket via the double cast; strings now
    // cluster by rank; unorderable types still refuse loudly
    val t2 = GraftTable.create(spark, tmp(), "zts",
      Seq("ts" -> "timestamp", "v" -> "long", "s" -> "string",
        "b" -> "boolean"))
    t2.append(Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a", true),
      (java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), 2L, "b", false))
      .toDF("ts", "v", "s", "b"))
    t2.rewriteDataFilesZOrder(Seq("ts", "v"))
    assert(t2.read().count() == 2)
    t2.rewriteDataFilesZOrder(Seq("s", "v"))
    assert(t2.read().count() == 2)
    intercept[IllegalArgumentException](t2.rewriteDataFilesZOrder(Seq("b", "v")))
  }

  test("rank-based Z-order clusters string and date columns and prunes both") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "zr",
      Seq("domain" -> "string", "d" -> "date", "v" -> "long"))
    // 32 domains x 64 days, appended in domain-major slices so
    // pre-compaction files span the whole date range
    val rows = for (dom <- 0 until 32; day <- 0 until 64) yield
      (f"site$dom%02d.example", java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(day)), dom * 64L + day)
    rows.grouped(512).foreach(g =>
      t.append(g.toDF("domain", "d", "v").coalesce(1)))
    val total = t.meta.currentSnapshot.get.files.size
    assert(t.candidateFiles(col("d") === lit("2024-01-08").cast("date")).size == total,
      "domain-major layout cannot prune on date")
    t.rewriteDataFilesZOrder(Seq("domain", "d"), targetFiles = 16)
    val n = t.meta.currentSnapshot.get.files.size
    assert(n > 4, s"compaction must keep several files, got $n")
    val pd = t.candidateFiles(col("domain") === "site05.example").size
    val pt = t.candidateFiles(col("d") === lit("2024-01-08").cast("date")).size
    assert(pd < n && pt < n,
      s"rank z-order must prune on BOTH dimensions: domain->$pd, date->$pt of $n")
    // contents unchanged by the rewrite
    assert(t.read().count() == rows.size)
    assert(t.read().select(sum(col("v"))).head().getLong(0) ==
      rows.map(_._3).sum)
  }

  test("rollback and set-current-snapshot move the pointer, keep history") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "rb", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    val v1 = t.meta.currentSnapshot.get.snapshotId
    t.append(Seq(3L).toDF("id"))
    val v2 = t.meta.currentSnapshot.get.snapshotId
    t.rollbackTo(v1)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the abandoned snapshot stays readable and no snapshot was created
    assert(t.readAsOfVersion(v2).count() == 3)
    assert(t.meta.snapshots.size == 2)
    // v2 is no longer an ancestor: rollback refuses, set-current moves
    intercept[IllegalArgumentException](t.rollbackTo(v2))
    t.setCurrentSnapshot(v2)
    assert(t.read().count() == 3)
    // rollback_to_timestamp lands on the snapshot current at that time
    t.rollbackToTime(t.meta.snapshotById(v1).get.timestampMs)
    assert(t.read().count() == 2)
    intercept[IllegalArgumentException](t.rollbackTo(999L))
    // the history view records each pointer move in order
    assert(t.history.count() == 5) // 2 commits + rollback + set + rollback
  }

  test("partitions metadata table: record_count, file_count, total_size") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "pm",
      Seq("id" -> "long", "g" -> "string"),
      partition = Seq("g" -> "identity"))
    t.append(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g").coalesce(1))
    t.append(Seq((4L, "a")).toDF("id", "g").coalesce(1))
    val rows = t.partitionsDf
      .select(col("partition")("g").as("g"), col("record_count"),
        col("file_count"), col("total_size_bytes"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // manifest-only answer: per-partition row totals, file counts, bytes
    assert(rows.map(r => (r._1, r._2, r._3)) == Seq(("a", 3L, 2L), ("b", 1L, 1L)))
    assert(rows.forall(_._4 > 0L), "total_size_bytes must come from the manifest")
  }

  test("cherrypick publishes a staged append once; lineage rejects replays") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "cp", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id"))
    // write-audit-publish where main MOVED after staging: fastForward
    // refuses (not an ancestor), cherrypick re-commits the staged files
    t.createBranch("audit")
    t.appendToBranch("audit", Seq(2L).toDF("id"))
    val staged = t.meta.refs.find(_.name == "audit").get.snapshotId
    t.append(Seq(3L).toDF("id"))
    val mainAppend = t.meta.currentSnapshotId.get
    intercept[IllegalArgumentException](t.fastForward("audit"))
    t.cherrypickSnapshot(staged)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // immediate replay: caught by the source-snapshot-id lineage guard
    val e1 = intercept[Exception](t.cherrypickSnapshot(staged))
    assert(e1.getMessage.contains("duplicate publish"))
    // the ADVICE scenario: compaction rewrites every data file path, so
    // a path-overlap check alone would let the replay duplicate rows —
    // the lineage walk must still reject it
    t.rewriteDataFiles()
    assert(t.read().count() == 3)
    val e2 = intercept[Exception](t.cherrypickSnapshot(staged))
    assert(e2.getMessage.contains("duplicate publish"))
    // an append that IS an ancestor of the head is likewise a no-op replay
    val e3 = intercept[Exception](t.cherrypickSnapshot(mainAppend))
    assert(e3.getMessage.contains("duplicate publish"))
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("rewriteDeletedDataFiles: materializes MoR deletes into ONLY " +
      "the touched files; untouched files carry over by identity; " +
      "equality deletes clear via the conservative seq rule") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "rdd",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((11L to 20L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    t.append((21L to 30L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") === 15L) // tombstone into file 2 only
    val before = t.meta.currentSnapshot.get.files.map(_.path)
    t.rewriteDeletedDataFiles()
    val after = t.meta.currentSnapshot.get
    assert(after.deleteFiles.isEmpty)
    // files 1 and 3 carried over untouched; file 2 was replaced
    val kept = after.files.map(_.path).toSet
    assert(kept.contains(before(0)) && kept.contains(before(2)))
    assert(!kept.contains(before(1)))
    assert(t.read().as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      ((1L to 30L).filterNot(_ == 15L)))
    assert(t.countRows() == 29L) // manifest fast path restored
    // no deletes -> no-op (same snapshot)
    val sid = t.meta.currentSnapshotId
    t.rewriteDeletedDataFiles()
    assert(t.meta.currentSnapshotId == sid)
    // equality deletes: the strictly-older rule exposes all current
    // files; the conservative rewrite clears them exactly
    val b = Seq((5L, "up5"), (99L, "new99")).toDF("id", "v")
    t.upsertEqIfNewMarker(b, Seq("id"), "graft.test.rdd", 1L)
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    t.rewriteDeletedDataFiles()
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    val rows = t.read().as[(Long, String)].collect().toMap
    assert(rows(5L) == "up5" && rows(99L) == "new99" && rows.size == 30)
  }

  test("maintain: one-call sweep fires each step only when its " +
      "metadata trigger does, and a healthy table's sweep is a no-op") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "mnt",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    // healthy: one file, no deletes, short history -> nothing fires
    assert(t.maintain() == Seq.empty)
    // build debt: 20% MoR tombstones + a second small file + history
    t.delete(col("id") <= 20L)
    t.append((101L to 110L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    (1 to 12).foreach(i =>
      t.append(Seq((1000L + i, "x")).toDF("id", "v").coalesce(1)))
    // keepLast=1: only the post-sweep snapshot survives, so every
    // pre-compaction file is provably orphaned
    val actions = t.maintain(keepLast = 1, orphanOlderThanMs = 0)
    assert(actions.head == "rewrite_deleted_data_files", actions.toString)
    assert(actions.contains("rewrite_data_files_binpack"))
    assert(actions.contains("expire_snapshots"))
    assert(actions.exists(_.startsWith("remove_orphan_files:")),
      actions.toString)
    // the sweep preserved the data exactly and cleared the debt
    assert(t.read().count() == 102)
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    assert(t.meta.snapshots.size == 1)
    // immediately after: healthy again
    assert(t.maintain(keepLast = 1) == Seq.empty)
    // the aggregate fast path is restored (no delete files)
    assert(t.countRows() == 102L)
  }

  test("branch-scoped snapshot retention: a policy-carrying branch " +
      "keeps its ancestor tail while main's history expires; without " +
      "a policy only the head is pinned") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "bret", Seq("id" -> "long"))
    (1 to 4).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    t.createBranch("audit")
    t.appendToBranch("audit", Seq(10L).toDF("id"))
    t.appendToBranch("audit", Seq(11L).toDF("id"))
    t.appendToBranch("audit", Seq(12L).toDF("id"))
    (5 to 6).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    val branchChain = {
      val byId = t.meta.snapshots.map(s => s.snapshotId -> s).toMap
      Iterator.iterate(Option(
          byId(t.meta.refs.find(_.name == "audit").get.snapshotId)))(
        _.flatMap(_.parentId).flatMap(byId.get))
        .takeWhile(_.isDefined).map(_.get.snapshotId).toVector
    }
    // min-snapshots-to-keep=3 protects the branch head + 2 ancestors
    t.setBranchRetention("audit", Some(3), None)
    t.expireSnapshots(1)
    val kept = t.meta.snapshots.map(_.snapshotId).toSet
    assert(branchChain.take(3).forall(kept),
      "the branch's protected tail must survive")
    assert(!kept(branchChain(3)),
      "ancestors beyond the policy expire with the global rule")
    assert(kept(t.meta.currentSnapshotId.get))
    // the audited branch still reads whole
    assert(t.readRef("audit").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L))
    // clearing the policy restores head-only pinning
    t.setBranchRetention("audit", None, None)
    t.expireSnapshots(1)
    val kept2 = t.meta.snapshots.map(_.snapshotId).toSet
    assert(kept2(branchChain.head) && !kept2(branchChain(1)))
    // a policy on a nonexistent branch fails loudly
    intercept[IllegalArgumentException](
      t.setBranchRetention("nope", Some(2), None))
  }

  test("MERGE with only NOT MATCHED BY SOURCE dedupes multi-matched rows") {
    import spark.implicits._
    import graft.engine._
    val t = GraftTable.create(spark, tmp(), "mg3",
      Seq("id" -> "long", "v" -> "int"))
    t.append(Seq((1L, 1), (2L, 2)).toDF("id", "v"))
    // two source rows match id=1; with no matched clauses that must NOT
    // duplicate the row, and no cardinality error applies
    val src = Seq((1L, 0), (1L, 0)).toDF("sid", "sv")
    t.merge(src, col("id") === col("sid"),
      matched = Nil, notMatched = Nil,
      notMatchedBySource = Seq(MergeDeleteClause(None)))
    assert(t.read().orderBy("id").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 1)))
  }

  test("write.distribution-mode=hash: one file per partition value, same rows") {
    import spark.implicits._
    def build(props: Map[String, String]): (GraftTable, Int) = {
      val t = GraftTable.create(spark, tmp(), "dist",
        Seq("id" -> "long", "cat" -> "string"),
        partition = Seq("cat" -> "identity"), properties = props)
      // 4 input tasks x 3 partition values: the un-clustered write
      // fans out to up to 12 files, the hash-clustered one to 3
      val df = (1L to 120L).map(i => (i, s"c${i % 3}")).toDF("id", "cat")
        .repartition(4)
      t.append(df)
      (t, t.meta.currentSnapshot.get.files.size)
    }
    val (tn, filesNone) = build(Map.empty)
    val (th, filesHash) = build(Map("write.distribution-mode" -> "hash"))
    assert(filesHash == 3, s"expected one file per partition value, got $filesHash")
    assert(filesNone > filesHash, s"unclustered write produced $filesNone files")
    assert(tn.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      th.read().orderBy("id").as[(Long, String)].collect().toSeq)
  }

  test("write.distribution-mode=range + sort-order: non-overlapping sorted file bounds") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "rng",
      Seq("id" -> "long", "v" -> "int"),
      properties = Map(
        "write.distribution-mode" -> "range",
        "write.sort-order" -> "id",
        // force several output files from one small append
        "write.target-file-size-bytes" -> "4096"))
    val df = (1L to 50000L).map(i => (i, (i % 97).toInt)).toDF("id", "v")
      .repartition(4) // scrambled input order
    t.append(df)
    val files = t.meta.currentSnapshot.get.files
    assert(files.size > 1, "target-file-size must split the append")
    val idFid = t.meta.currentSchema.fieldByName("id").get.id.toString
    val ranges = files.map(f =>
      (f.lowerBounds(idFid).toLong, f.upperBounds(idFid).toLong))
      .sortBy(_._1)
    // range distribution + within-partition sort => bounds tile:
    // every file's min is strictly above the previous file's max
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: $ranges")
      case _ =>
    }
    assert(t.read().as[(Long, Int)].collect().map(_._1).sorted.toSeq ==
      (1L to 50000L))
  }

  test("manifest records file sizes; snapshot summary carries added-* keys") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "sz", Seq("id" -> "long"))
    t.append((1L to 100L).toDF("id"))
    t.append((101L to 110L).toDF("id"))
    val files = t.meta.currentSnapshot.get.files
    assert(files.forall(_.fileSizeBytes > 0), s"sizes missing: $files")
    val s = t.meta.currentSnapshot.get.summary
    assert(s("added-records") == "10")
    assert(s("total-records") == "110")
    assert(s("added-files-size-bytes").toLong > 0)
    assert(s("total-files-size-bytes").toLong ==
      files.map(_.fileSizeBytes).sum)
    val fdf = t.filesDf
    assert(fdf.columns.contains("file_size_bytes"))
    assert(fdf.agg(min(col("file_size_bytes"))).head().getLong(0) > 0)
    // Iceberg's null_value_counts ride along, keyed by current names
    assert(fdf.columns.contains("null_value_counts"))
  }

  test("filesDf bounds re-key to current column names and follow a " +
      "rename; dropped columns' bounds are omitted") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "fbounds",
      Seq("id" -> "long", "v" -> "string", "x" -> "long"))
    t.append(Seq((5L, "a", 1L), (9L, "b", 2L)).toDF("id", "v", "x")
      .coalesce(1))
    def bounds(): Map[String, (String, String)] = {
      val r = t.filesDf.select("lower_bounds", "upper_bounds").head()
      val lo = r.getMap[String, String](0)
      val hi = r.getMap[String, String](1)
      lo.keys.map(k => k -> ((lo(k), hi(k)))).toMap
    }
    assert(bounds().get("id").contains(("5", "9")), bounds().toString)
    // the manifest keys by field-id, so a rename moves the SAME bounds
    // to the new name with no file rewrite
    t.renameColumn("id", "doc_id")
    assert(bounds().get("doc_id").contains(("5", "9")), bounds().toString)
    assert(!bounds().contains("id"))
    // a dropped column's bounds vanish from the view
    t.dropColumn("x")
    assert(!bounds().contains("x"), bounds().toString)
  }

  test("binpack compaction packs small files, leaves compacted state alone") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "bp", Seq("id" -> "long"))
    (0 until 4).foreach(i =>
      t.append(((i * 10L) until (i * 10L + 10L)).toDF("id")))
    // each append fans out over the local cores: many small files
    assert(t.meta.currentSnapshot.get.files.size >= 4)
    t.rewriteDataFilesBinpack() // every file far below the 32 MiB default
    assert(t.meta.currentSnapshot.get.files.size == 1)
    assert(t.read().as[Long].collect().sorted.toSeq ==
      (0 until 4).flatMap(i => (i * 10L) until (i * 10L + 10L)))
    // one file per group: below minInputFiles, nothing to pack — no-op
    val snaps = t.meta.snapshots.size
    t.rewriteDataFilesBinpack()
    assert(t.meta.snapshots.size == snaps)
  }

  test("binpack is partition-selective and materializes MoR deletes for rewritten files only") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "bpp",
      Seq("id" -> "long", "cat" -> "string"),
      partition = Seq("cat" -> "identity"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    // cat=a fragmented across 3 appends; cat=b a single file
    (0 until 3).foreach(i =>
      t.append(Seq((i * 2L, "a"), (i * 2L + 1L, "a")).toDF("id", "cat")))
    t.append((100L to 105L).map((_, "b")).toDF("id", "cat").repartition(1))
    t.delete(col("id") === 1L) // MoR: delete file against a small 'a' file
    val aDeletes = t.meta.currentSnapshot.get.deleteFiles
    t.delete(col("id") === 100L) // MoR: delete file against the 'b' file
    val before = t.meta.currentSnapshot.get
    val bDeletes = before.deleteFiles.filterNot(aDeletes.contains)
    assert(bDeletes.size == 1)
    val bPaths = before.files.filter(_.partitionValues("cat") == "b")
      .map(_.path).toSet
    t.rewriteDataFilesBinpack()
    val after = t.meta.currentSnapshot.get
    // 'a' packed to one file; 'b' (one file, below minInputFiles) untouched
    assert(after.files.filter(_.partitionValues("cat") == "a").size == 1)
    assert(after.files.filter(_.partitionValues("cat") == "b")
      .map(_.path).toSet == bPaths)
    // exactly 'b''s delete file is carried (it still masks 100); 'a''s
    // delete was materialized into the pack and dropped with its target
    assert(after.deleteFiles == bDeletes)
    assert(t.read().as[(Long, String)].collect().sorted.toSeq ==
      Seq((0L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "a"),
        (101L, "b"), (102L, "b"), (103L, "b"), (104L, "b"), (105L, "b")))
  }

  test("expireSnapshots older_than keeps the time window plus retain_last") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "exp", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id"))
    t.append(Seq(2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    val snaps = t.meta.snapshots.sortBy(_.timestampMs)
    t.expireSnapshots(olderThanMs = snaps(1).timestampMs, retainLast = 1)
    val left = t.meta.snapshots.map(_.snapshotId).toSet
    assert(left == snaps.drop(1).map(_.snapshotId).toSet)
    assert(t.read().count() == 3)
    // even with everything outside the window, retain_last floors it
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(t.meta.snapshots.map(_.snapshotId) ==
      Vector(snaps.last.snapshotId))
  }

  test("unknown write.distribution-mode fails loudly") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "bad",
      Seq("id" -> "long"),
      properties = Map("write.distribution-mode" -> "cluster"))
    intercept[IllegalArgumentException](t.append(Seq(1L).toDF("id")))
  }

  test("IncrementalAgg: delta+merge over the changelog equals a full " +
      "recompute across append/delete/update, null keys and null sums, " +
      "dead groups dropped") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val t = GraftTable.create(spark, tmp(), "iva",
      Seq("id" -> "long", "k" -> "string", "x" -> "long"))
    val keys = Seq("k"); val sums = Seq("x")
    def full = {
      val g = t.read().groupBy("k")
        .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("sum_x"))
      g.collect().map(r => (r.getAs[String]("k"),
        r.getAs[Long]("n_rows"), Option(r.getAs[Any]("sum_x")))).toSet
    }
    def presented(st: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.present(st, keys, sums).collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"),
          Option(r.getAs[Any]("sum_x")))).toSet

    t.append(Seq((1L, "a", Some(10L)), (2L, "a", None), (3L, null, Some(5L)),
      (4L, "b", Some(7L)), (5L, "nullsum", None))
      .toDF("id", "k", "x"))
    val s1 = t.meta.currentSnapshot.get.snapshotId
    var state = IncrementalAgg.initial(t.readAsOfVersion(s1), keys, sums)
      .localCheckpoint()
    assert(presented(state) == full)

    // append (incl. a new group and more null-key rows)
    t.append(Seq((6L, "b", Some(1L)), (7L, null, None), (8L, "c", Some(2L)))
      .toDF("id", "k", "x"))
    // CoW delete kills group "nullsum" entirely and thins "a"
    t.delete(col("k") === "nullsum" || col("id") === 1L)
    // MoR update moves sum mass within "b"
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    t.update(col("id") === 4L, Map("x" -> lit(100L)))
    val s4 = t.meta.currentSnapshot.get.snapshotId
    state = IncrementalAgg.merge(state,
      IncrementalAgg.delta(t.changelog(Some(s1), s4), keys, sums),
      keys, sums).localCheckpoint()
    assert(presented(state) == full)
    // the dead group must have left the state, not linger at zero
    assert(!IncrementalAgg.present(state, keys, sums).collect()
      .exists(_.getAs[String]("k") == "nullsum"))
    // group "a" is down to its one NULL-x row: count 1, sum NULL —
    // the running sum alone would wrongly present 0 here; nn_x pins it
    assert(presented(state).contains(("a", 1L, None)))
  }

  test("null-count stats prune IS NULL / IS NOT NULL metadata-only, " +
      "conservative where counts are unknown") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "ncp",
      Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)) // no nulls
    t.append(Seq((3L, null), (4L, "d")).toDF("id", "v").coalesce(1)) // mixed
    t.append(Seq((5L, null), (6L, null)).toDF("id", "v").coalesce(1)) // all null
    val files = t.meta.currentSnapshot.get.files
    assert(files.forall(_.nullCounts.nonEmpty), "counts must be recorded")
    // the all-null file's absent bounds are EXPLAINED by its null
    // count — MIN/MAX come from the contributing files, no refusal
    assert(t.columnBounds("v").contains(("a", "d")))
    // IS NULL: the no-null file is vetoed
    assert(t.candidateFiles(col("v").isNull).size == 2)
    // IS NOT NULL: the all-null file is vetoed
    assert(t.candidateFiles(col("v").isNotNull).size == 2)
    assert(t.candidateFiles(!col("v").isNull).size == 2)
    // AND composes with bounds pruning: nulls live only in id>=3 files
    assert(t.candidateFiles(col("v").isNull && col("id") <= 2L).isEmpty)
    // correctness through the full DML path (the pruned candidate set
    // feeds DELETE): only the three NULL rows go
    t.delete(col("v").isNull)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L))
    // a column added AFTER these files were written has no counts —
    // IS NULL must keep every old file (they null-fill the column)
    t.addColumn("w", "string")
    assert(t.candidateFiles(col("w").isNull).size ==
      t.meta.currentSnapshot.get.files.size)
    // COUNT(col) fast path: recordCount - nullCount summed, matching
    // SQL count semantics; unknown counts (the fresh column) -> None
    assert(t.countNonNull("v").contains(
      t.read().agg(count(col("v"))).head().getLong(0)))
    assert(t.countNonNull("w").isEmpty)
    assert(t.countNonNull("nope").isEmpty)
  }

  test("bloom read path: a point probe on the armed column skips every " +
      "row group; the unarmed twin must decode rows") {
    import spark.implicits._
    // the fixture is built so the bloom is the ONLY skip that can fire:
    // ids are interleaved across files (i*8 + f), so every file's
    // min/max covers the probe; 150k distinct longs per file overflow
    // parquet's 1MB dictionary page, killing dictionary filtering; and
    // the probe (residue 5 mod 8) is IN-RANGE everywhere but present
    // nowhere — only the bloom can prove absence without decoding.
    def build(props: Map[String, String]): GraftTable = {
      val t = GraftTable.create(spark, tmp(), "blmread",
        Seq("id" -> "long"), properties = props)
      (0 until 4).foreach { f =>
        t.append((0 until 150000).map(i => i.toLong * 8 + f)
          .toDF("id").coalesce(1))
      }
      t
    }
    val armed = build(Map(
      "write.parquet.bloom-filter-enabled.column.id" -> "true",
      "write.parquet.bloom-filter-fpp.column.id" -> "0.01"))
    val unarmed = build(Map.empty)
    val probe = 37L // 4*8+5: residue 5 — absent, inside every range
    def scanRows(t: GraftTable): Long = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = t.readWhere(col("id") === probe)
        assert(df.count() == 0)
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.sum
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    // manifest pruning can't help either side (interleaving defeats
    // per-file bounds): both scans plan all four files
    assert(armed.candidateFiles(col("id") === probe).size == 4)
    val (a, u) = (scanRows(armed), scanRows(unarmed))
    assert(a == 0L,
      s"armed bloom must skip every row group, decoded $a rows")
    assert(u > 0L,
      "the unarmed twin was expected to decode rows — fixture no longer " +
        "defeats min/max and dictionary skipping; rebuild it")
  }

  test("countWhere: strict file-wise evaluation counts whole files " +
      "from the manifest and reads only boundary files; NULLs and MoR " +
      "deletes stay sound") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "cw",
      Seq("id" -> "long", "v" -> "string"))
    // time-clustered shape: three files with disjoint id ranges, one
    // carrying NULL v rows
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((101L to 200L).map(i =>
      (i, if (i % 2 == 0) null else s"b$i")).toDF("id", "v").coalesce(1))
    t.append((201L to 300L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1))
    def jobsOf(body: => Long): (Long, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      // the listener bus may still be draining the appends' events when
      // we attach (late listeners see queued backlog) — count only jobs
      // STARTED after this point
      val attachedAt = System.currentTimeMillis()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.time >= attachedAt) n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { val r = body; Thread.sleep(300); (r, n.get()) }
      finally spark.sparkContext.removeSparkListener(l)
    }
    // whole-file predicate: both surviving files are strictly inside —
    // pure manifest arithmetic, zero jobs
    val (n1, j1) = jobsOf(t.countWhere(col("id") >= 101L))
    assert(n1 == 200L && j1 == 0, s"n=$n1 jobs=$j1")
    // boundary predicate: file 2 straddles 150 and is scanned; file 3
    // still counts from the manifest
    val (n2, j2) = jobsOf(t.countWhere(col("id") >= 150L))
    assert(n2 == 151L && j2 > 0)
    assert(t.countWhere(col("id") > 300L) == 0L)
    assert(t.countWhere(col("id") >= 1L) == 300L)
    // a comparison is NEVER strict over a file with NULLs in the
    // compared column; v-based predicates on file 2 must scan
    assert(t.countWhere(col("v") >= "a") == 250L)
    // IS NULL / IS NOT NULL from null counts: file-wise exact
    assert(t.countWhere(col("v").isNotNull) == 250L)
    assert(t.countWhere(col("v").isNull) == 50L)
    // conjunction: strict on both legs
    assert(t.countWhere(col("id") >= 101L && col("id") <= 300L) == 200L)
    // MoR deletes: manifest arithmetic unsound -> exact merged count
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") === 250L)
    assert(t.countWhere(col("id") >= 101L) == 199L)
  }

  test("stats on a never-committed table: count(col) is exactly 0, " +
      "not unknown, and statsDf rows agree") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "empty_stats",
      Seq("id" -> "long", "v" -> "string"))
    assert(t.countRows() == 0L)
    assert(t.countNonNull("v").contains(0L)) // empty, not unknown
    assert(t.countNonNull("nope").isEmpty)   // unknown column stays None
    assert(t.columnBounds("v").isEmpty)      // no rows -> no extremes
    val rows = t.statsDf.collect()
    assert(rows.length == 2 && rows.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.isNullAt(3)))
  }

  test("bloom-filter table properties arm parquet-native blooms on " +
      "exactly the requested columns") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "blm",
      Seq("id" -> "long", "name" -> "string"),
      properties = Map(
        "write.parquet.bloom-filter-enabled.column.id" -> "true",
        "write.parquet.bloom-filter-fpp.column.id" -> "0.05"))
    t.append((1L to 500L).map(i => (i, s"n$i")).toDF("id", "name"))
    val rel = t.meta.currentSnapshot.get.files.head.path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$loc/$rel"),
      spark.sessionState.newHadoopConf()))
    try {
      val block = r.getFooter.getBlocks.get(0)
      def bloomOf(c: String) = block.getColumns.asScala
        .find(_.getPath.toDotString == c)
        .map(cc => r.getBloomFilterDataReader(block).readBloomFilter(cc))
      assert(bloomOf("id").exists(_ != null), "id must carry a bloom")
      assert(bloomOf("name").forall(_ == null), "name must not")
    } finally r.close()
    // reads (incl. the point-lookup shape the bloom accelerates) are
    // unchanged
    assert(t.readWhere(col("id") === 42L).count() == 1)
  }

  test("columnBounds: manifest-only min/max matches a scan, goes " +
      "conservative under deletes, recovers after rewrite") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "bnd",
      Seq("id" -> "long", "name" -> "string"))
    t.append(Seq((5L, "delta"), (2L, "echo")).toDF("id", "name"))
    t.append(Seq((9L, "alpha"), (7L, "zulu")).toDF("id", "name"))
    def scanned(c: String) = {
      val r = t.read().agg(min(col(c)).cast("string"),
        max(col(c)).cast("string")).head()
      (r.getString(0), r.getString(1))
    }
    assert(t.columnBounds("id").contains(scanned("id")))
    assert(t.columnBounds("name").contains(scanned("name")))
    assert(t.columnBounds("nope").isEmpty)
    // a MoR delete removes the max row: manifest bounds still say 9,
    // so the fast path must refuse rather than answer stale
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") === 9L)
    assert(t.columnBounds("id").isEmpty)
    assert(scanned("id") == ("2", "7"))
    // compaction materializes the delete; bounds are live again
    t.rewriteDataFiles()
    assert(t.columnBounds("id").contains(("2", "7")))
  }

  test("IncrementalAgg extremes: min/max maintained incrementally for " +
      "appends, per-group rescan exactly when a delete touches the " +
      "recorded extreme, NULLs never participate") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val keys = Seq("k"); val sums = Seq("x"); val exts = Seq("x")
    val t = GraftTable.create(spark, tmp(), "mm_base",
      Seq("id" -> "long", "k" -> "string", "x" -> "long"))
    t.append(Seq((1L, "a", Some(10L)), (2L, "a", Some(3L)),
      (3L, "b", Some(7L)), (4L, "b", None), (5L, "c", None))
      .toDF("id", "k", "x"))
    var s0 = t.meta.currentSnapshot.get.snapshotId
    var state = IncrementalAgg.initialWithExtremes(t.read(), keys, sums, exts)
      .localCheckpoint()
    def check(): Unit = {
      val got = IncrementalAgg
        .presentWithExtremes(state, keys, sums, exts)
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"),
          Option(r.getAs[Any]("sum_x")), Option(r.getAs[Any]("min_x")),
          Option(r.getAs[Any]("max_x")))).toSet
      val full = t.read().groupBy("k").agg(count(lit(1)).as("n"),
        sum("x").as("s"), min("x").as("lo"), max("x").as("hi"))
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n"),
          Option(r.getAs[Any]("s")), Option(r.getAs[Any]("lo")),
          Option(r.getAs[Any]("hi")))).toSet
      assert(got == full)
    }
    def fold(): Unit = {
      val sN = t.meta.currentSnapshot.get.snapshotId
      state = IncrementalAgg.mergeWithExtremes(state,
        IncrementalAgg.deltaWithExtremes(t.changelog(Some(s0), sN),
          keys, sums, exts),
        keys, sums, exts, t.read()).localCheckpoint()
      s0 = sN
    }
    check()
    // pure append: folds as least/greatest, shifts a's min and b's max
    t.append(Seq((6L, "a", Some(1L)), (7L, "b", Some(99L)),
      (8L, "c", None)).toDF("id", "k", "x"))
    fold(); check()
    // delete of a NON-extreme row: no invalidation path needed, and
    // the extreme survives
    t.delete(col("id") === 2L) // a's 3 (min is 1, max is 10)
    fold(); check()
    // delete of the rows holding extremes: a loses its max (10), b its
    // max (99) — the per-group rescan must find the runners-up
    t.delete(col("id").isin(1L, 7L))
    fold(); check()
    // update that moves an extreme (MoR pairing: pre=delete post=insert)
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    t.update(col("id") === 3L, Map("x" -> lit(-5L))) // b's 7 -> -5
    fold(); check()
    // group death: every c row deleted, state row leaves
    t.delete(col("k") === "c")
    fold(); check()
    assert(!IncrementalAgg.presentWithExtremes(state, keys, sums, exts)
      .collect().exists(_.getAs[String]("k") == "c"))
  }

  test("IncrementalAgg.refresh: one-call materialized-view refresh " +
      "bootstraps, folds only new commits, and no-ops when current") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val keys = Seq("k"); val sums = Seq("x")
    val base = GraftTable.create(spark, tmp(), "mv_base",
      Seq("id" -> "long", "k" -> "string", "x" -> "long"))
    val state = GraftTable.createAs(spark, tmp(), "mv_state",
      IncrementalAgg.initial(base.read(), keys, sums).filter(lit(false)))
    def presented = IncrementalAgg.present(state.read(), keys, sums)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"),
        Option(r.getAs[Any]("sum_x")))).toSet
    def full = base.read().groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n"),
        Option(r.getAs[Any]("s")))).toSet

    // empty base: nothing to do
    assert(!IncrementalAgg.refresh(base, state, keys, sums))
    base.append(Seq((1L, "a", Some(3L)), (2L, "b", None), (3L, "b", Some(4L)))
      .toDF("id", "k", "x"))
    assert(IncrementalAgg.refresh(base, state, keys, sums)) // bootstrap
    assert(presented == full)
    assert(!IncrementalAgg.refresh(base, state, keys, sums)) // current
    // two base commits fold in one refresh
    base.append(Seq((4L, "a", Some(7L))).toDF("id", "k", "x"))
    base.delete(col("k") === "b")
    assert(IncrementalAgg.refresh(base, state, keys, sums))
    assert(presented == full)
    assert(!presented.exists(_._1 == "b"))
    // the applied base snapshot rides on the state table
    assert(state.meta.properties("graft.agg.default.from-snapshot").toLong
      == base.meta.currentSnapshot.get.snapshotId)
  }

  test("IncrementalAgg.refreshWithExtremes: one-call refresh keeps " +
      "min/max live across extreme deletes, group death nulls the " +
      "extremes, and a revived group never resurrects a dead extreme") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val keys = Seq("k"); val sums = Seq("x"); val exts = Seq("x")
    val base = GraftTable.create(spark, tmp(), "mvx_base",
      Seq("id" -> "long", "k" -> "string", "x" -> "long"))
    val state = GraftTable.createAs(spark, tmp(), "mvx_state",
      IncrementalAgg.initialWithExtremes(base.read(), keys, sums, exts)
        .filter(lit(false)))
    def check(): Unit = {
      val got = IncrementalAgg
        .presentWithExtremes(state.read(), keys, sums, exts)
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"),
          Option(r.getAs[Any]("min_x")), Option(r.getAs[Any]("max_x")))).toSet
      val full = base.read().groupBy("k").agg(count(lit(1)).as("n"),
        min("x").as("lo"), max("x").as("hi"))
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n"),
          Option(r.getAs[Any]("lo")), Option(r.getAs[Any]("hi")))).toSet
      assert(got == full)
    }
    assert(!IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    base.append(Seq((1L, "a", 5L), (2L, "a", 9L), (3L, "b", 7L))
      .toDF("id", "k", "x"))
    assert(IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    check()
    assert(!IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    // delete a's max (9): the pinned rescan finds the runner-up 5
    base.delete(col("id") === 2L)
    assert(IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    check()
    // kill group b entirely, then revive it with a LARGER value than
    // the dead extreme: least(stale, new) must not resurrect 7
    base.delete(col("k") === "b")
    assert(IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    check()
    base.append(Seq((9L, "b", 100L)).toDF("id", "k", "x"))
    assert(IncrementalAgg.refreshWithExtremes(base, state, keys, sums, exts))
    check()
    val b = IncrementalAgg.presentWithExtremes(state.read(), keys, sums, exts)
      .filter(col("k") === "b").head()
    assert(b.getAs[Long]("min_x") == 100L && b.getAs[Long]("max_x") == 100L)
  }

  test("IncrementalAgg.refresh: racing refreshers apply exactly once") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    import java.util.concurrent.Executors
    val keys = Seq("k"); val sums = Seq("x")
    val base = GraftTable.create(spark, tmp(), "mv_race",
      Seq("id" -> "long", "k" -> "string", "x" -> "long"))
    val state = GraftTable.createAs(spark, tmp(), "mv_race_state",
      IncrementalAgg.initial(base.read(), keys, sums).filter(lit(false)))
    base.append(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("id", "k", "x"))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val results = Await.result(Future.sequence(Seq(
      Future(IncrementalAgg.refresh(base, state, keys, sums)),
      Future(IncrementalAgg.refresh(base, state, keys, sums)))), 120.seconds)
    pool.shutdown()
    // both may observe "not yet applied", but the marker commit admits
    // exactly one fold — never zero, never two
    assert(results.count(identity) >= 1)
    val got = IncrementalAgg.present(state.read(), keys, sums)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L, 30L), ("b", 1L, 5L)))
  }

  test("countRows: manifest-only with no deletes (answers even with the " +
      "data files gone from disk), exact fallback under MoR deletes") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "cnt", Seq("id" -> "long"))
    t.append((1L to 100L).toDF("id"))
    t.append((101L to 130L).toDF("id"))
    assert(t.countRows() == 130L)
    // zero-data-I/O pin: remove every data parquet from disk — the
    // manifest path must still answer, where any scan would throw
    val dataDir = java.nio.file.Paths.get(loc, "data")
    val moved = java.nio.file.Files.list(dataDir).iterator().asScala
      .toSeq.map { p =>
      val away = p.resolveSibling(p.getFileName.toString + ".away")
      java.nio.file.Files.move(p, away); (away, p)
    }
    assert(moved.nonEmpty)
    assert(t.countRows() == 130L)
    moved.foreach { case (away, back) => java.nio.file.Files.move(away, back) }
    // MoR deletes: manifest arithmetic is unsound, fallback counts the
    // merged read (and a double-delete of the same rows keeps it exact)
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") <= 10L)
    t.delete(col("id") <= 20L) // overlapping tombstones
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    assert(t.countRows() == 110L)
    assert(t.countRows() == t.read().count())
    // maintenance restores the manifest fast path
    t.rewriteDataFiles()
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    assert(t.countRows() == 110L)
  }

  test("float bounds prove only in the runtime comparison domain: " +
      "a widened double literal can't claim a float file, and " +
      "inclusive pruning keeps it for the scan") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "fdom",
      Seq("id" -> "int", "fx" -> "float"))
    t.append(Seq((1, 0.3f), (2, 0.3f)).toDF("id", "fx").coalesce(1))
    // the scan evaluates cast(fx as double) <= 0.3, and
    // cast(0.3f as double) = 0.30000001192... > 0.3 — no row matches;
    // a decimal-string proof (bound "0.3" <= literal "0.3") would
    // have counted both rows
    def scanCount(c: org.apache.spark.sql.Column): Long =
      t.readWhere(c).count()
    for (c <- Seq(col("fx") <= 0.3, col("fx") === 0.3, col("fx") > 0.3,
        col("fx") >= 0.3, col("fx") < 0.3,
        col("fx") <= 0.3f, col("fx") === 0.3f, col("fx") > 0.3f))
      assert(t.countWhere(c) == scanCount(c), s"diverged on $c")
    assert(t.countWhere(col("fx") <= 0.3) == 0L)
    // fx > 0.3 matches EVERY row — inclusive pruning in the old
    // decimal domain would have skipped the file entirely
    assert(t.countWhere(col("fx") > 0.3) == 2L)
    // the same-domain float literal still proves manifest-only
    assert(t.countWhere(col("fx") === 0.3f) == 2L)
    // DELETE candidate discovery shares the inclusive test: the file
    // must stay a candidate for the double-literal predicate
    t.delete(col("fx") > 0.3)
    assert(t.countRows() == 0L)
    // int literal beyond float precision: Spark compares int vs float
    // IN FLOAT, so the literal rounds to 16777216f and no row of a
    // 16777216f file is < 16777217 — the exact-decimal domain would
    // prove the opposite
    val t2 = GraftTable.create(spark, tmp(), "fdom2", Seq("fx" -> "float"))
    t2.append(Seq(Tuple1(16777216f)).toDF("fx").coalesce(1))
    assert(t2.countWhere(col("fx") < 16777217) ==
      t2.readWhere(col("fx") < 16777217).count())
    // long literal beyond double precision vs a double column: the
    // comparison runs in double, (2^53 + 1).toDouble == 2^53
    val t3 = GraftTable.create(spark, tmp(), "ddom", Seq("dx" -> "double"))
    t3.append(Seq(Tuple1((1L << 53).toDouble)).toDF("dx").coalesce(1))
    assert(t3.countWhere(col("dx") < ((1L << 53) + 1L)) ==
      t3.readWhere(col("dx") < ((1L << 53) + 1L)).count())
  }

  test("alterColumnType widening disqualifies old files' bound " +
      "strings: min/max and strict counts fall back instead of " +
      "reinterpreting float as double or epoch-days as micros") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "widen",
      Seq("fx" -> "float", "d" -> "date"))
    t.append(Seq((0.1f, java.sql.Date.valueOf("2022-01-05")),
      (0.7f, java.sql.Date.valueOf("2022-03-09"))).toDF("fx", "d").coalesce(1))
    assert(t.columnBounds("fx").contains(("0.1", "0.7")))
    t.alterColumnType("fx", "double")
    // the old file's "0.1" is a FLOAT encoding; as a double bound it
    // would claim min = 0.1d, but the scan's widened min is
    // (double)0.1f = 0.100000001490116... — manifest min/max refuses
    assert(t.columnBounds("fx").isEmpty)
    val scannedMin = t.read().agg(min("fx")).head().getDouble(0)
    assert(scannedMin == 0.1f.toDouble && scannedMin != 0.1d)
    // date -> timestamp: epoch-days reread as micros would collapse
    // min(d) to a 1970-era instant
    t.alterColumnType("d", "timestamp")
    assert(t.columnBounds("d").isEmpty)
    assert(t.read().agg(min("d")).head().getTimestamp(0)
      .toString.startsWith("2022-01-05"))
    // strict counts refuse old-file proofs but stay exact via the scan
    assert(t.countWhere(col("fx") <= 0.7) ==
      t.readWhere(col("fx") <= 0.7).count())
    // int -> long is value-preserving in the bound encoding: the fast
    // path survives that widening
    val t2 = GraftTable.create(spark, tmp(), "widen2", Seq("n" -> "int"))
    t2.append(Seq(Tuple1(3), Tuple1(9)).toDF("n").coalesce(1))
    t2.alterColumnType("n", "long")
    assert(t2.columnBounds("n").contains(("3", "9")))
    assert(t2.countWhere(col("n") >= 1L) == 2L)
  }

  test("rewrite_manifests compacts a fragmented manifest list; " +
      "inventory, history, and reads intact") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "rman", Seq("id" -> "long"))
    (1 to 12).foreach(i => t.append(Seq(Tuple1(i.toLong)).toDF("id").coalesce(1)))
    val before = t.meta.currentSnapshot.get
    // each small commit sealed its own manifest
    assert(before.manifests.count(_.kind == "data") == 12)
    t.rewriteManifests()
    val after = t.meta.currentSnapshot.get
    assert(after.manifests.count(_.kind == "data") == 1)
    // METADATA-ONLY: identical file inventory, no data I/O
    assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet)
    assert(after.summary("added-data-files") == "0" &&
      after.operation == "replace")
    assert(t.countRows() == 12L && t.read().count() == 12L)
    // time travel still serves the fragmented grouping
    assert(t.readAsOfVersion(before.snapshotId).count() == 12L)
    // already compact -> no-op, no snapshot churn
    val v = t.meta.currentSnapshotId
    t.rewriteManifests()
    assert(t.meta.currentSnapshotId == v)
    // the merged manifest's regenerated summaries still serve
    // manifest-only counting
    assert(t.countWhere(col("id") >= 1L) == 12L)
  }

  test("manifest-level pruning: a summary-excluded manifest is NEVER " +
      "opened (file deleted from disk, query still answers)") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "mskip",
      Seq("id" -> "long", "v" -> "string"))
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((1001L to 1100L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    val refs = t.meta.currentSnapshot.get.manifests.filter(_.kind == "data")
    assert(refs.size == 2)
    val lowRef = refs.find(_.upperBounds.get("1").exists(_.toLong <= 100L)).get
    // make opening it IMPOSSIBLE: drop the warm cache and the file
    // itself — if planning loads the manifest, the query throws; the
    // summary veto is then provably the only thing that can skip it
    graft.tableformat.Manifests.clearCachesForTesting()
    java.nio.file.Files.delete(java.nio.file.Paths.get(loc, lowRef.path))
    assert(t.readWhere(col("id") >= 1000L).count() == 100L)
    // countWhere's manifest tier: the surviving manifest is
    // summary-STRICT under the predicate, so the count comes from its
    // ref — neither manifest opens
    assert(t.countWhere(col("id") >= 1000L) == 100L)
    // control: an unpruned read genuinely needs the deleted manifest
    intercept[Exception](t.read().count())
  }

  test("partition-path manifest skip: readPruned vetoes a manifest by " +
      "its partition-combo summary without opening it") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "pskip",
      Seq("id" -> "long", "typ" -> "string"),
      partition = Seq("typ" -> "identity"))
    t.append(Seq((1L, "a"), (2L, "a")).toDF("id", "typ"))
    t.append(Seq((3L, "b"), (4L, "b")).toDF("id", "typ"))
    val refs = t.meta.currentSnapshot.get.manifests.filter(_.kind == "data")
    assert(refs.size == 2)
    val aRef = refs.find(_.partitionCombos
      .exists(_.get("typ").contains("a"))).get
    graft.tableformat.Manifests.clearCachesForTesting()
    java.nio.file.Files.delete(java.nio.file.Paths.get(loc, aRef.path))
    // the combo summary is the only thing that can skip the deleted
    // manifest — if readPruned still walks Snapshot.files it throws
    val b = t.readPruned(pv => pv.get("typ").forall(_ == "b"))
    assert(b.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // a predicate the summary can't reject must open it -> throws
    intercept[Exception](
      t.readPruned(pv => pv.get("typ").forall(_ == "a")).count())
  }

  test("add_files registers external parquet metadata-only: footer stats " +
      "recorded, refusals enforced, source files never deleted") {
    import spark.implicits._
    val src = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$src/low")
    Seq((100L, "x"), (200L, "y")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$src/high")
    val t = GraftTable.create(spark, tmp(), "imp",
      Seq("id" -> "long", "v" -> "string"))
    t.append(Seq((5L, "m")).toDF("id", "v").coalesce(1))
    val before = t.meta.currentSnapshotId.get
    t.addFiles(src)
    assert(t.read().count() == 5)
    // manifest arithmetic over imported footer row counts — no scan
    assert(t.countRows() == 5L)
    // footer bounds landed in the manifest: strict metadata-only count
    assert(t.countWhere(col("id") >= 100L) == 2L)
    // time travel: the pre-import snapshot excludes the imports
    assert(t.readAsOfVersion(before).count() == 1)
    // a re-import would double-count rows
    intercept[Exception](t.addFiles(src))
    // table-managed files cannot be imported
    intercept[Exception](t.addFiles(t.location))
    // CoW DML rewrites an imported file into table-owned replacements;
    // the external source file survives both the rewrite and orphan
    // reclamation (the engine never deletes outside <location>/data)
    t.delete(col("id") === 2L)
    assert(t.read().count() == 4)
    t.removeOrphanFiles(olderThanMs = 0)
    val lowFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$src/low")).iterator()
    assert(lowFiles.hasNext, "external source directory emptied")
    assert(t.read().filter(col("id") === 1L).count() == 1)
  }

  test("add_files imports a Hive layout: path-only partition columns " +
      "read back as per-file constants and prune metadata-only") {
    import spark.implicits._
    val src = tmp()
    // classic Hive layout: `typ` exists ONLY in the directory path
    Seq(Tuple1(1L), Tuple1(2L)).toDF("id").coalesce(1)
      .write.parquet(s"$src/typ=a")
    Seq(Tuple1(3L)).toDF("id").coalesce(1)
      .write.parquet(s"$src/typ=b")
    val t = GraftTable.create(spark, tmp(), "himp",
      Seq("id" -> "long", "typ" -> "string"),
      partition = Seq("typ" -> "identity"))
    t.addFiles(src)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "a"), (3L, "b")))
    // injected constants behave as ordinary columns in predicates
    assert(t.readWhere(col("typ") === "a").count() == 2)
    // DML over path-only partition columns (separate table — the same
    // layout imports twice): the CoW rewrite reads the injected
    // constants and writes native files that CONTAIN typ physically,
    // so imported rows mutate like any others
    val t4 = GraftTable.create(spark, tmp(), "himp4",
      Seq("id" -> "long", "typ" -> "string"),
      partition = Seq("typ" -> "identity"))
    t4.addFiles(src)
    t4.delete(col("typ") === "b")
    assert(t4.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "a")))
    t4.update(col("id") === 1L, Map("typ" -> lit("z")))
    assert(t4.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "z"), (2L, "a")))
    // partition pruning runs off the path-derived partition values:
    // delete the 'a' source files from disk — the typ=b query still
    // answers, so pruning provably never opened them
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$src/typ=a"))
      .iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    assert(t.readPruned(pv => pv.get("typ").forall(_ == "b"))
      .select("id").as[Long].collect().toSeq == Seq(3L))
    // a missing NON-partition column has no path fallback -> refused
    val t2 = GraftTable.create(spark, tmp(), "himp2",
      Seq("id" -> "long", "extra" -> "string"))
    intercept[Exception](t2.addFiles(s"$src/typ=b"))
    // physical type mismatch (int64 file vs int table) -> refused
    val t3 = GraftTable.create(spark, tmp(), "himp3",
      Seq("id" -> "int", "typ" -> "string"),
      partition = Seq("typ" -> "identity"))
    intercept[Exception](t3.addFiles(s"$src/typ=b"))
  }

  test("snapshotTo: zero-copy clone reads identically (MoR deletes " +
      "included), then diverges without either side touching the other") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmp(), "clone_src",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    src.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    src.delete(col("id") === 3L) // MoR positional delete rides the clone
    val dstLoc = tmp()
    java.nio.file.Files.delete(java.nio.file.Paths.get(dstLoc))
    val dst = src.snapshotTo(dstLoc, "clone_dst")
    // zero copy: the clone has NO data directory of its own yet
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dstLoc, "data")))
    assert(dst.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      src.read().orderBy("id").as[(Long, String)].collect().toSeq)
    assert(dst.countRows() == 9L)
    // divergence: clone DML writes under the CLONE, source unchanged
    dst.delete(col("id") <= 5L)
    dst.append(Seq((100L, "new")).toDF("id", "v").coalesce(1))
    assert(dst.read().count() == 6L)
    assert(src.read().count() == 9L)
    // clone-side orphan GC walks only the clone's data dir: the shared
    // source files survive, and both tables still answer
    dst.removeOrphanFiles(olderThanMs = 0)
    assert(src.read().count() == 9L && dst.read().count() == 6L)
    // source-side append stays invisible to the clone
    src.append(Seq((200L, "src-only")).toDF("id", "v").coalesce(1))
    assert(dst.read().count() == 6L)
    // clone history starts at its one "clone" snapshot
    val snaps = dst.meta.snapshots
    assert(snaps.head.operation == "clone" &&
      snaps.head.summary("source-table") == src.location)
    // an existing location refuses
    intercept[Exception](src.snapshotTo(dstLoc, "again"))
  }

  test("rehomeClone: shared files copy in, snapshots rewrite local, " +
      "source expiry proceeds, reads identical (MoR deletes included)") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmp(), "reh_src",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    src.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val dstLoc = tmp()
    java.nio.file.Files.delete(java.nio.file.Paths.get(dstLoc))
    val dst = src.snapshotTo(dstLoc, "reh_dst")
    // clone-side MoR delete: the positional delete file lives under the
    // CLONE but keys rows of a SOURCE data file — the path-suffix
    // matching that must survive the rehome
    dst.delete(col("id") === 3L)
    val before = dst.read().orderBy("id").as[(Long, String)].collect().toSeq
    // source rewrites itself, so its old (shared) files become
    // expiry-reclaimable — and retention refuses while the clone lives
    src.overwrite(Seq((999L, "rewritten")).toDF("id", "v").coalesce(1))
    intercept[Exception](src.expireSnapshots(keepLast = 1))
    val copied = dst.rehomeClone()
    assert(copied.nonEmpty, "the shared files were never copied")
    // every retained snapshot now references only local paths
    val foreign = dst.meta.snapshots
      .flatMap(s => s.files ++ s.deleteFiles)
      .filter(f => f.path.startsWith("/") &&
        !f.path.startsWith(dst.location + "/"))
    assert(foreign.isEmpty, foreign.map(_.path).toString)
    // identical content through the rehome, MoR hiding intact
    assert(dst.read().orderBy("id").as[(Long, String)].collect().toSeq
      == before)
    assert(!before.exists(_._1 == 3L))
    // time travel to the pre-delete clone snapshot still answers
    val cloneSnap = dst.meta.snapshots.find(_.operation == "clone").get
    assert(dst.readAsOfVersion(cloneSnap.snapshotId).count() == 10L)
    // the source is released: expiry + GC proceed and physically
    // reclaim the old files; the clone keeps answering from its copies
    src.expireSnapshots(keepLast = 1)
    src.removeOrphanFiles(olderThanMs = 0)
    assert(src.read().count() == 1L)
    assert(dst.read().orderBy("id").as[(Long, String)].collect().toSeq
      == before)
    // idempotent: a second rehome copies nothing and changes nothing
    assert(dst.rehomeClone().isEmpty)
    assert(dst.read().count() == 9L)
  }

  test("add_files import from a path with URI-significant characters: " +
      "deletes stay applied through compaction and delete-file rewrite " +
      "(the scan reports %20-encoded paths, the manifest decoded ones)") {
    import spark.implicits._
    val extDir = tmp() + "/ext dir with spaces"
    (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(extDir)
    val t = GraftTable.create(spark, tmp() + "/t", "urimport",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.addFiles(extDir)
    t.delete(col("id") === 2L)
    assert(t.read().count() == 3L)
    // the regression this pins: the read applied the delete (both join
    // sides come from the scan, consistently encoded) but compaction
    // matched the delete keys against the DECODED manifest path,
    // found no affected file, and dropped the delete files without
    // materializing them — resurrecting the row
    t.rewriteDeletedDataFiles()
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "v1"), (3L, "v3"), (4L, "v4")),
      "compaction must not resurrect rows of an encoded-path import")
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    // same hazard in rewriteDeleteFiles' dead-pointer pruning: a live
    // encoded-path import's delete rows must survive the compact-into-
    // positional pass, not be classified as dead pointers
    val t2 = GraftTable.create(spark, tmp() + "/t2", "urimport2",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t2.addFiles(extDir)
    t2.delete(col("id") === 3L)
    t2.rewriteDeleteFiles()
    assert(t2.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "v1"), (2L, "v2"), (4L, "v4")),
      "delete-file rewrite must not drop an import's live delete rows")
  }

  test("rehomeClone refuses when positional deletes exist and a non-" +
      "data/ foreign file (add_files import) would change its path " +
      "suffix — the delete keys would silently stop matching") {
    import spark.implicits._
    // an external parquet file: imported by path, so its recorded path
    // has no data/ segment to preserve through a rehome
    val extDir = tmp()
    (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(extDir)
    val src = GraftTable.create(spark, tmp(), "pos_src",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    src.addFiles(extDir)
    val dstLoc = tmp()
    java.nio.file.Files.delete(java.nio.file.Paths.get(dstLoc))
    val dst = src.snapshotTo(dstLoc, "pos_dst")
    // the hazard ADVICE r15 named: the delete FILE is clone-LOCAL (so
    // a delete-file-foreignness guard never fires) but its KEYS record
    // the import's absolute path — rehoming the import under
    // data/rehomed/ would orphan those keys and resurrect the row
    dst.delete(col("id") === 2L)
    assert(dst.read().count() == 3L)
    val e = intercept[Exception](dst.rehomeClone())
    assert(e.toString.contains("cannot rehome") ||
      Option(e.getCause).exists(_.toString.contains("cannot rehome")),
      e.toString)
    // nothing committed: still reads correctly, still MoR-hidden
    assert(dst.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "v1"), (3L, "v3"), (4L, "v4")))
    // the documented way out: compact (materializes the deletes into
    // local files), expire the delete-carrying history, then rehome
    dst.rewriteDeletedDataFiles()
    dst.expireSnapshots(keepLast = 1)
    dst.rehomeClone()
    assert(dst.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "v1"), (3L, "v3"), (4L, "v4")))
    val foreignLeft = dst.meta.snapshots
      .flatMap(s => s.files ++ s.deleteFiles).map(_.path)
      .filter(p => p.startsWith("/") && !p.startsWith(dst.location + "/"))
    assert(foreignLeft.isEmpty, foreignLeft.toString)
  }

  test("orphan GC age guard: young unreferenced files survive (an " +
      "in-flight commit's staged writes), backdated ones reclaim") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "gcage", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id").coalesce(1))
    // a staged write: on disk under data/, referenced by NO snapshot
    // yet — exactly what a concurrent writer's pre-commit files look
    // like
    val staged = s"${t.location}/data/staged-in-flight.parquet"
    graft.tableformat.FileIO.io.writeString(staged, "not-yet-committed")
    assert(t.removeOrphanFiles().isEmpty, "young staged file must survive")
    assert(graft.tableformat.FileIO.io.exists(staged))
    // the same file, older than the guard window -> reclaimable
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(staged),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - GraftTable.OrphanDefaultOlderThanMs - 1000))
    val gone = t.removeOrphanFiles()
    assert(gone == Vector(staged), gone.toString)
    assert(!graft.tableformat.FileIO.io.exists(staged))
    // referenced files are never candidates at any age
    assert(t.read().count() == 2)
  }

  test("clone registration grace: an in-flight (timestamped, not yet " +
      "existing) registration blocks retention; a stale one heals") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmp(), "grace_src",
      Seq("id" -> "long"))
    src.append(Seq(1L).toDF("id").coalesce(1))
    src.append(Seq(2L).toDF("id").coalesce(1))
    val ghost = tmp() + "-never-materialized"
    // what snapshotTo's registry looks like in the window between its
    // register commit and the clone's metadata commit
    def reg(ts: Long): Unit =
      src.setProperties(Map("graft.clones" -> s"$ghost\u0002$ts"))
    reg(System.currentTimeMillis())
    val e = intercept[IllegalStateException](src.expireSnapshots(1))
    assert(e.getMessage.contains(ghost))
    intercept[IllegalStateException](src.removeOrphanFiles(0))
    assert(src.meta.snapshots.size == 2)
    // grace is per-table configurable: with a zero grace even a fresh
    // in-flight registration is judged crashed (operator's knob for
    // clones that provably never take long)
    src.setProperties(Map("graft.clones.register-grace-ms" -> "0"))
    reg(System.currentTimeMillis())
    src.expireSnapshots(2) // proceeds: the entry heals under grace 0
    assert(!src.meta.properties.contains("graft.clones"))
    src.setProperties(Map("graft.clones.register-grace-ms" ->
      src.CloneRegisterGraceMs.toString))
    // backdated past the grace = a crashed clone creation: heals out
    // and retention proceeds
    reg(System.currentTimeMillis() - src.CloneRegisterGraceMs - 1000)
    src.expireSnapshots(1)
    assert(src.meta.snapshots.size == 1)
    assert(!src.meta.properties.contains("graft.clones"))
    // a COMPLETED fork's registration is untimed (snapshotTo confirms
    // after the clone materializes), so dropping the clone heals
    // without waiting out the grace — pinned by the release-path test
    val loc = tmp()
    java.nio.file.Files.delete(java.nio.file.Paths.get(loc))
    src.snapshotTo(loc, "grace_clone")
    assert(!src.meta.properties("graft.clones").contains('\u0002'))
    graft.tableformat.FileIO.io.deleteTree(loc)
    assert(src.liveClones().isEmpty)
    // RETRYING a crashed creation: a stale (past-grace) registration
    // for the SAME location must be refreshed by the new attempt, not
    // kept — a kept expired timestamp would let a concurrent retention
    // heal the entry out mid-creation and strand the landing clone
    val loc2 = tmp()
    java.nio.file.Files.delete(java.nio.file.Paths.get(loc2))
    src.setProperties(Map("graft.clones" -> (loc2 + "\u0002" +
      (System.currentTimeMillis() - src.CloneRegisterGraceMs - 1000))))
    src.snapshotTo(loc2, "grace_retry") // must not be blocked or confused
    assert(src.liveClones() == Vector(loc2))
    assert(!src.meta.properties("graft.clones").contains('\u0002'),
      "completed retry must confirm (strip the timestamp)")
    intercept[IllegalStateException](src.expireSnapshots(1))
  }

  test("clone-aware retention: source expiry/GC refuse while a " +
      "registered clone lives, release paths all work") {
    import spark.implicits._
    val src = GraftTable.create(spark, tmp(), "ret_src",
      Seq("id" -> "long"))
    src.append((1L to 5L).toDF("id").coalesce(1))
    src.append((6L to 9L).toDF("id").coalesce(1))
    def fork(): (GraftTable, String) = {
      val loc = tmp()
      java.nio.file.Files.delete(java.nio.file.Paths.get(loc))
      (src.snapshotTo(loc, "ret_clone"), loc)
    }
    val (clone1, loc1) = fork()
    assert(src.liveClones() == Vector(loc1))
    // the file-killers refuse with a message naming the clone
    val e1 = intercept[IllegalStateException](src.removeOrphanFiles())
    assert(e1.getMessage.contains(loc1) && e1.getMessage.contains("clone"))
    intercept[IllegalStateException](src.expireSnapshots(1))
    intercept[IllegalStateException](
      src.expireSnapshots(System.currentTimeMillis() + 1000, 1))
    // maintain SKIPS retention (audited) instead of failing
    val acts = src.maintain(keepLast = 1)
    assert(acts.contains("retention_skipped:clones-registered"), acts)
    assert(src.meta.snapshots.size >= 2, "maintain must not have expired")
    // release path 1: DROP the clone — the registry heals lazily
    graft.tableformat.FileIO.io.deleteTree(loc1)
    assert(src.liveClones().isEmpty)
    src.expireSnapshots(1) // proceeds, and heals the dead registration
    assert(!src.meta.properties.contains("graft.clones"))
    // release path 2: explicit unregister
    val (clone2, loc2) = fork()
    src.unregisterClone(loc2)
    src.removeOrphanFiles(olderThanMs = 0) // proceeds
    assert(clone2.read().count() == 9L, "clone still reads (files shared)")
    graft.tableformat.FileIO.io.deleteTree(loc2)
    // release path 3: the explicit unsafe override flag
    val (_, loc3) = fork()
    src.setProperties(Map("graft.clones.allow-unsafe-retention" -> "true"))
    src.removeOrphanFiles()
    assert(src.liveClones() == Vector(loc3), "override keeps the registration")
    // the clone itself starts with a CLEAN registry (no inherited guard)
    val c3 = GraftTable.load(spark, loc3)
    assert(!c3.meta.properties.contains("graft.clones"))
    assert(!c3.meta.properties.contains("graft.clones.allow-unsafe-retention"))
  }

  test("ROLLBACK's staged files are reclaimable orphans: the audit stays " +
      "clean meanwhile, the age guard spares a LIVE transaction's staged " +
      "files, and the zero-guard sweep restores the exact pre-transaction " +
      "file population") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-orph").toString
    val cat = new graft.catalog.GraftCatalog(spark, wh)
    val cow = cat.createTable("db", "orph_cow",
      Seq("id" -> "long", "v" -> "long"))
    val mor = cat.createTable("db", "orph_mor",
      Seq("id" -> "long", "v" -> "long"),
      properties = Map(
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"))
    cow.append((1L to 10L).map(i => (i, i)).toDF("id", "v"))
    mor.append((1L to 10L).map(i => (i, i)).toDF("id", "v"))
    val io = graft.tableformat.FileIO.io
    // FILES only (parquet + metadata documents): Spark's writer leaves
    // per-write DIRECTORIES under data/ that survive reclamation empty
    // — the sweep's contract is about bytes, not directory entries
    def population(t: GraftTable): Set[String] =
      (io.listRecursive(s"${t.location}/data")
        .filter(_.endsWith(".parquet")) ++
        io.listDir(s"${t.location}/metadata")).toSet
    val cowBefore = population(cow)
    val morBefore = population(mor)
    // stage CoW DELETE + MERGE and a MoR UPDATE in one transaction —
    // their rewrite files / positional-delete files / copies hit disk
    // now, referenced by nothing committed
    spark.sql("BEGIN TRANSACTION")
    spark.sql("DELETE FROM graft.db.orph_cow WHERE id <= 3")
    spark.sql("MERGE INTO graft.db.orph_cow t " +
      "USING (SELECT 4L AS sid, 40L AS sv) s ON t.id = s.sid " +
      "WHEN MATCHED THEN UPDATE SET v = s.sv")
    spark.sql("UPDATE graft.db.orph_mor SET v = v + 1 WHERE id = 5")
    assert((population(cow) -- cowBefore).nonEmpty,
      "staging must have written CoW rewrite files")
    assert((population(mor) -- morBefore).nonEmpty,
      "staging must have written MoR delete/copy files")
    // (c) the age-guarded sweep (default 3-day window) must SPARE the
    // open transaction's young staged files — an unguarded GC racing
    // the staging window is the corruption the guard exists for
    assert(cow.removeOrphanFiles().isEmpty &&
      mor.removeOrphanFiles().isEmpty,
      "the in-flight-write guard must spare a live transaction's files")
    // (a) the integrity audit reports NO findings on unreferenced
    // staged files (it verifies referenced bytes exist, not that
    // unreferenced bytes don't)
    assert(cow.verifyIntegrity(allSnapshots = true).isEmpty)
    assert(mor.verifyIntegrity(allSnapshots = true).isEmpty)
    spark.sql("ROLLBACK")
    assert(cow.verifyIntegrity(allSnapshots = true).isEmpty)
    // (b) the zero-guard sweep reclaims the staged files — and ONLY
    // them: the file population returns byte-identical to the
    // pre-transaction state, so nothing referenced was touched
    assert(cow.removeOrphanFiles(0).nonEmpty)
    assert(mor.removeOrphanFiles(0).nonEmpty)
    assert(population(cow) == cowBefore,
      "the sweep must reclaim exactly the rolled-back staged files")
    assert(population(mor) == morBefore)
    assert(cow.read().count() == 10 && mor.read().count() == 10)
    assert(cow.verifyIntegrity(allSnapshots = true).isEmpty)
    assert(mor.verifyIntegrity(allSnapshots = true).isEmpty)
  }

  /** Delegates every operation to `under`, except that the FIRST claim
    * under `loc`'s metadata directory first runs `race` — a commit that
    * lands between an operation's planning and its own claim, every
    * time, with no thread timing involved.
    */
  private final class RaceBeforeFirstClaim(under: graft.tableformat.FileIO,
      loc: String, race: () => Unit) extends graft.tableformat.FileIO {
    private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    override def claim(p: String, c: String): Boolean = {
      if (p.startsWith(s"$loc/metadata/") && armed.getAndSet(false)) race()
      under.claim(p, c)
    }
    override def claimAll(e: Seq[(String, String)]) = under.claimAll(e)
    override def readString(p: String) = under.readString(p)
    override def readLines(p: String) = under.readLines(p)
    override def writeString(p: String, c: String) = under.writeString(p, c)
    override def exists(p: String) = under.exists(p)
    override def size(p: String) = under.size(p)
    override def modifiedMs(p: String) = under.modifiedMs(p)
    override def delete(p: String) = under.delete(p)
    override def listDir(d: String) = under.listDir(d)
    override def listRecursive(d: String) = under.listRecursive(d)
    override def deleteTree(d: String) = under.deleteTree(d)
    override def replaceAtomic(p: String, c: String) = under.replaceAtomic(p, c)
    override def copy(s: String, d: String) = under.copy(s, d)
    override def rename(f: String, t: String) = under.rename(f, t)
    override def recoverRename(d: String, olderThanMs: Long) =
      under.recoverRename(d, olderThanMs)
  }

  test("a direct CoW DELETE or MERGE that loses its base to a racing " +
      "commit throws and leaves no unreferenced file behind") {
    import spark.implicits._
    import graft.engine.{ConcurrentCommitException, MergeUpdateClause}
    import graft.tableformat.FileIO
    def unreferenced(t: GraftTable): Set[String] = {
      val m = t.meta
      val referenced = m.snapshots.flatMap(s => s.files ++ s.deleteFiles)
        .map(f => s"${t.location}/${f.path}").toSet
      FileIO.io.listRecursive(s"${t.location}/data")
        .filter(_.endsWith(".parquet")).toSet -- referenced
    }
    val ops: Seq[(String, GraftTable => Unit)] = Seq(
      "delete" -> (_.delete(col("id") === 2L)),
      "merge" -> (_.merge(Seq((11L, -11L)).toDF("sid", "sv"),
        col("id") === col("sid"),
        matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
        notMatched = Nil)))
    ops.foreach { case (name, op) =>
      val loc = tmp()
      val t = GraftTable.create(spark, loc, s"lost_$name",
        Seq("id" -> "long", "v" -> "long"))
      t.append(Seq((1L, 1L), (2L, 2L)).toDF("id", "v").coalesce(1))
      t.append(Seq((10L, 10L), (11L, 11L)).toDF("id", "v").coalesce(1))
      assert(unreferenced(t).isEmpty)
      val before = FileIO.io
      FileIO.install(new RaceBeforeFirstClaim(before, loc, () =>
        new GraftTable(spark, loc)
          .append(Seq((99L, 99L)).toDF("id", "v").coalesce(1))))
      try intercept[ConcurrentCommitException](op(t))
      finally FileIO.install(before)
      // the racer's commit stands and the loser's never landed
      assert(t.read().as[(Long, Long)].collect().sorted.toSeq ==
        Seq((1L, 1L), (2L, 2L), (10L, 10L), (11L, 11L), (99L, 99L)), name)
      assert(t.meta.snapshots.size == 3, name)
      assert(unreferenced(t).isEmpty,
        s"$name left files its lost commit wrote: ${unreferenced(t)}")
    }
  }
}
