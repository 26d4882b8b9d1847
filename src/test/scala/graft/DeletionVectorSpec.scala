package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{DeletionVectors, GraftTable}
import graft.tableformat.{MetadataIO, Snapshot}

/** Positional deletes applied inside the scan as deletion vectors are
  * differential-tested against the anti-join they replaced: raw data
  * rows tagged with `_metadata` (file_path, row_index), `left_anti`-
  * joined to the snapshot's positional delete rows with both sides
  * normalized by the same path regexes. Every snapshot's
  * `readAsOfVersion`, plus `read()`, `countRows()` and `readWhere`,
  * must return exactly the reference rows.
  */
class DeletionVectorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-dv").toString

  private def relPath(c: Column): Column =
    regexp_replace(regexp_replace(c, "^.*/data/", "data/"),
      "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/{0,2}(?=/)", "")

  /** The anti-join reference: live rows of `s` as the read path
    * computed them before deletion vectors.
    */
  private def reference(t: GraftTable, s: Snapshot): DataFrame = {
    val m = t.meta
    def abs(p: String) = if (p.startsWith("/")) p else s"${t.location}/$p"
    val names = m.currentSchema.fields.map(_.name)
    val raw = spark.read.schema(m.currentSchema.toStructType)
      .parquet(s.files.map(f => abs(f.path)): _*)
      .select(names.map(n => col(s"`$n`")) ++ Seq(
        col("_metadata.file_path").as("_p"),
        col("_metadata.row_index").as("_i")): _*)
    val pos = s.deleteFiles.filter(_.equalityIds.isEmpty)
    val dels =
      if (m.currentSnapshotId.contains(s.snapshotId))
        t.positionDeletesDf.select("file_path", "pos")
      else if (pos.isEmpty)
        spark.emptyDataFrame.select(lit("").as("file_path"), lit(0L).as("pos"))
      else spark.read.schema("file_path STRING, pos BIGINT")
        .parquet(pos.map(f => abs(f.path)): _*)
    raw.join(dels, relPath(raw("_p")) === relPath(dels("file_path")) &&
        raw("_i") === dels("pos"), "left_anti")
      .select(names.map(n => col(s"`$n`")): _*)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Every read surface of `t` equals the reference, on every snapshot;
    * `where` also runs through the pruned `readWhere`.
    */
  private def assertSameAsAntiJoin(t: GraftTable, where: Column): Unit = {
    val m = t.meta
    m.snapshots.foreach { s =>
      assert(rows(t.readAsOfVersion(s.snapshotId)) == rows(reference(t, s)),
        s"snapshot ${s.snapshotId} (${s.operation})")
    }
    val cur = reference(t, m.currentSnapshot.get)
    assert(rows(t.read()) == rows(cur))
    assert(t.countRows() == cur.count())
    assert(rows(t.readWhere(where)) == rows(cur.filter(where)))
  }

  /** Two single-file appends: ids 1..10 and 11..20. */
  private def twoFileMorTable(name: String, dir: String = tmp()): GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, dir, name,
      Seq("id" -> "long", "name" -> "string", "age" -> "int"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"))
    Seq(1L to 10L, 11L to 20L).foreach(r => t.append(
      r.map(i => (i, s"n$i", i.toInt)).toDF("id", "name", "age").coalesce(1)))
    t
  }

  /** Rewrite the current snapshot's delete entries in place, as an
    * older or foreign writer could have left them.
    */
  private def editCurrentDeletes(t: GraftTable)(
      f: Vector[graft.tableformat.DataFileEntry] => Vector[graft.tableformat.DataFileEntry]): Unit =
    MetadataIO.commitRetry(t.location) { cur =>
      cur.copy(snapshots = cur.snapshots.map { s =>
        if (!cur.currentSnapshotId.contains(s.snapshotId)) s
        else s.copy(inlineFiles = s.files,
          inlineDeleteFiles = f(s.deleteFiles), manifestList = None)
      })
    }

  test("double deletes of one row, then MoR DELETE, UPDATE and MERGE " +
      "over rows already deleted") {
    import spark.implicits._
    import graft.engine.{MergeInsertValuesClause, MergeUpdateClause}
    val t = twoFileMorTable("dv_double")
    t.delete(col("id") === 3L)
    // a second delete file naming the same (path, pos): a byte copy of
    // the first under a new name
    editCurrentDeletes(t) { ds =>
      val d = ds.head
      val copy = d.path.replace("-deletes/", "-deletes-copy/")
      val to = java.nio.file.Paths.get(s"${t.location}/$copy")
      Files.createDirectories(to.getParent)
      Files.copy(java.nio.file.Paths.get(s"${t.location}/${d.path}"), to)
      ds :+ d.copy(path = copy)
    }
    assert(t.meta.currentSnapshot.get.deleteFiles.size == 2)
    assertSameAsAntiJoin(t, col("id") <= 5L)
    assert(t.read().count() == 19L)
    // DML over the already-deleted row 3 must not resurrect it
    t.delete(col("id") <= 4L)
    t.update(col("id") === 3L || col("id") === 5L, Map("age" -> lit(-1)))
    t.merge(Seq((2L, 200), (3L, 300), (6L, 600), (50L, 5000)).toDF("sid", "sv"),
      col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("age" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(None,
        Map("id" -> col("sid"), "name" -> lit("new"), "age" -> col("sv")))))
    assertSameAsAntiJoin(t, col("id") <= 6L)
    assert(t.read().orderBy("id").select("id", "age").as[(Long, Int)]
      .collect().toSeq.take(3) == Seq((2L, 200), (3L, 300), (5L, -1)))
  }

  test("a clone, a rehomed clone and a relocated table directory") {
    import spark.implicits._
    val src = twoFileMorTable("dv_src")
    src.delete(col("id") === 2L)
    val dstLoc = tmp()
    Files.delete(java.nio.file.Paths.get(dstLoc))
    val dst = src.snapshotTo(dstLoc, "dv_dst")
    // the clone's delete file lives under the clone, its keys name the
    // source's data files
    dst.delete(col("id") === 12L)
    assertSameAsAntiJoin(dst, col("id") >= 10L)
    assert(dst.read().count() == 18L)
    dst.rehomeClone()
    assertSameAsAntiJoin(dst, col("id") >= 10L)
    // relocate the source directory wholesale
    import scala.jdk.CollectionConverters._
    val moved = tmp()
    val from = java.nio.file.Paths.get(src.location)
    val walk = Files.walk(from)
    try walk.iterator().asScala.toSeq.foreach { p =>
      val to = java.nio.file.Paths.get(moved).resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (!Files.exists(to)) Files.copy(p, to)
    } finally walk.close()
    val t = GraftTable.load(spark, moved)
    assertSameAsAntiJoin(t, col("id") <= 5L)
    assert(t.read().filter(col("id") === 2L).count() == 0L)
  }

  test("an add_files import under a path with a space") {
    import spark.implicits._
    val ext = tmp() + "/ext dir with spaces"
    Seq(0L until 10L, 10L until 20L).foreach(r =>
      r.map(i => (i, s"n$i", i.toInt)).toDF("id", "name", "age")
        .coalesce(1).write.mode("append").parquet(ext))
    val t = GraftTable.create(spark, tmp() + "/t", "dv_import",
      Seq("id" -> "long", "name" -> "string", "age" -> "int"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read"))
    t.addFiles(ext)
    t.delete(col("id") === 3L || col("id") === 14L)
    t.update(col("id") === 5L, Map("age" -> lit(500)))
    assertSameAsAntiJoin(t, col("id") >= 10L)
    assert(t.read().count() == 18L)
    // the targets from the deletion vectors find the import in its
    // decoded manifest spelling: compaction hides the same rows
    t.rewriteDeletedDataFiles()
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    assert(t.read().count() == 18L)
    assert(t.read().filter(col("id").isin(3L, 14L)).count() == 0L)
  }

  test("percent-encoded identity partition paths") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "dv_enc",
      Seq("id" -> "long", "cat" -> "string"),
      partition = Seq("cat" -> "identity"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    val cats = Seq("a b", "c:d", "e%f", "plain")
    t.append(cats.zipWithIndex.flatMap { case (c, i) =>
      (0L until 3L).map(k => (i * 10L + k, c)) }.toDF("id", "cat")
      .coalesce(1))
    cats.indices.foreach(i => t.delete(col("id") === i * 10L + 1L))
    assertSameAsAntiJoin(t, col("cat") === "c:d")
    assert(t.read().count() == 8L)
    cats.foreach(c => assert(t.readWhere(col("cat") === c).count() == 2L, c))
  }

  test("a legacy positional delete with no recorded targets") {
    val t = twoFileMorTable("dv_legacy")
    t.delete(col("id") === 3L)
    t.delete(col("id") === 17L)
    editCurrentDeletes(t)(_.map(_.copy(referencedDataFiles = Vector.empty)))
    assert(t.meta.currentSnapshot.get.deleteFiles
      .forall(_.referencedDataFiles.isEmpty))
    assertSameAsAntiJoin(t, col("id") >= 12L)
    assert(t.read().count() == 18L)
  }

  test("a historic snapshot with live positional deletes collects with " +
      "as many jobs as a delete-free one, cold and warm; each delete " +
      "file is read once") {
    import spark.implicits._
    val t = twoFileMorTable("dv_jobs")
    val clean = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("id") === 3L || col("id") === 15L)
    val deleted = t.meta.currentSnapshot.get.snapshotId
    t.append(Seq((21L, "n21", 21)).toDF("id", "name", "age").coalesce(1))
    def jobs(body: => Array[Row]): (Int, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        val got = body.length
        org.apache.spark.ListenerDrain(spark.sparkContext)
        (got, n.get())
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val delFiles = t.meta.snapshots.find(_.snapshotId == deleted).get
      .deleteFiles.size
    val loads0 = DeletionVectors.fileLoads.get()
    val (cold, coldJobs) = jobs(t.readAsOfVersion(deleted).collect())
    assert(DeletionVectors.fileLoads.get() == loads0 + delFiles,
      "cold: each delete file read once")
    val (plain, plainJobs) = jobs(t.readAsOfVersion(clean).collect())
    assert(cold == 18 && plain == 20)
    assert(coldJobs == plainJobs, s"cold $coldJobs vs delete-free $plainJobs")
    val (warm, warmJobs) = jobs(t.readAsOfVersion(deleted).collect())
    assert(warm == 18)
    assert(warmJobs == jobs(t.readAsOfVersion(clean).collect())._2,
      s"warm $warmJobs vs delete-free $plainJobs")
    assert(DeletionVectors.fileLoads.get() == loads0 + delFiles,
      "warm: no file read")
  }
}
