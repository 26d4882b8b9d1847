package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.GraftTable

/** Merge-on-read DML (positional delete files, the reference's
  * format-v2 `write.delete.mode=merge-on-read` with on-disk
  * `*-deletes.parquet`), plus table maintenance (compaction, snapshot
  * expiry, orphan cleanup) and branch/tag refs.
  */
class MergeOnReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-mor").toString

  private def morTable(): GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "t3",
      Seq("id" -> "long", "name" -> "string", "age" -> "int"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read"))
    t.append(Seq((1L, "a", 30), (2L, "b", 40)).toDF("id", "name", "age"))
    t.append(Seq((3L, "c", 50), (4L, "d", 60)).toDF("id", "name", "age"))
    t
  }

  test("MoR delete writes positional delete files, no data rewrite") {
    import spark.implicits._
    val t = morTable()
    val dataBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
    t.delete(col("id") === 2L)
    val snap = t.meta.currentSnapshot.get
    assert(snap.operation == "delete")
    assert(snap.files.map(_.path).toSet == dataBefore, "data files untouched")
    assert(snap.deleteFiles.nonEmpty, "positional delete file written")
    assert(snap.deleteFiles.forall(_.path.contains("-deletes")))
    assert(snap.summary("total-position-deletes") == "1")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("MoR update appends updated rows and hides originals") {
    import spark.implicits._
    val t = morTable()
    val nBefore = t.meta.currentSnapshot.get.files.size
    t.update(col("id") === 1L, Map("age" -> lit(31)))
    val snap = t.meta.currentSnapshot.get
    assert(snap.operation == "overwrite")
    assert(snap.files.size > nBefore, "updated copies appended")
    assert(snap.deleteFiles.nonEmpty)
    val got = t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 31), (2L, 40), (3L, 50), (4L, 60)))
  }

  test("MoR update: multi-column assignments see the ORIGINAL row") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "swapm",
      Seq("id" -> "long", "a" -> "string", "b" -> "string"),
      properties = Map("write.update.mode" -> "merge-on-read"))
    t.append(Seq((1L, "a1", "b1"), (2L, "a2", "b2")).toDF("id", "a", "b"))
    t.update(col("id") === 1L, Map("a" -> col("b"), "b" -> col("a")))
    val got = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, "b1", "a1"), (2L, "a2", "b2")))
  }

  test("MoR deletes accumulate; time travel sees pre-delete state") {
    import spark.implicits._
    val t = morTable()
    val v0 = t.meta.currentSnapshot.get.snapshotId
    t.delete(col("id") === 1L)
    t.delete(col("id") === 3L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    assert(t.meta.currentSnapshot.get.deleteFiles.size == 2)
    assert(t.readAsOfVersion(v0).count() == 4)
    // deleting an already-deleted row is a no-op (no new snapshot)
    val nSnaps = t.meta.snapshots.size
    t.delete(col("id") === 1L)
    assert(t.meta.snapshots.size == nSnaps)
  }

  test("MoR update does not resurrect rows deleted earlier") {
    import spark.implicits._
    val t = morTable()
    t.delete(col("id") === 2L)
    t.update(col("age") >= 30, Map("age" -> (col("age") + 1)))
    val got = t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 31), (3L, 51), (4L, 61)))
  }

  test("MoR deletes survive relocating the table directory") {
    import spark.implicits._
    val t = morTable()
    t.delete(col("id") === 2L)
    assert(t.read().count() == 3)
    // copy the whole table tree to a new path (different mount point,
    // warehouse migration, backup restore) — positional delete keys are
    // location-relative, so deleted rows must NOT resurrect
    import scala.jdk.CollectionConverters._
    val dst = Files.createTempDirectory("graft-mor-moved").toString
    val src = java.nio.file.Paths.get(t.location)
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { p =>
      val to = java.nio.file.Paths.get(dst).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    } finally walk.close()
    val moved = GraftTable.load(spark, dst)
    assert(moved.read().count() == 3,
      "deleted row resurrected after relocation")
    assert(moved.read().select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L))
  }

  test("CoW delete on a table with existing positional deletes") {
    import spark.implicits._
    val t = morTable()
    t.delete(col("id") === 2L) // MoR
    t.setProperties(Map("write.delete.mode" -> "copy-on-write"))
    t.delete(col("id") === 3L) // CoW rewrite must not resurrect id=2
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("changelog across MoR delete reports the deleted rows") {
    import spark.implicits._
    val t = morTable()
    t.delete(col("id") === 4L)
    val cur = t.meta.currentSnapshot.get
    val ch = t.changelog(cur.parentId, cur.snapshotId).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(ch == Set((4L, "delete")))
  }

  test("accretive changelog fast path: delta files only, no exceptAll") {
    import spark.implicits._
    val t = morTable()
    val from = t.meta.currentSnapshot.get.snapshotId
    // accretive range: MoR positional delete + eq-delete upsert +
    // plain append + an added-then-deleted row that must net out
    t.delete(col("id") === 2L)
    t.upsertEqIfNewMarker(Seq((3L, "c2", 51)).toDF("id", "name", "age"),
      Seq("id"), "m", 0L)
    t.append(Seq((5L, "e", 70)).toDF("id", "name", "age"))
    t.append(Seq((6L, "f", 80)).toDF("id", "name", "age"))
    t.delete(col("id") === 6L)
    val to = t.meta.currentSnapshot.get.snapshotId
    val ch = t.changelog(Some(from), to)
    // the fast path diffs delta files alone — no materialized
    // two-snapshot exceptAll anywhere in the plan
    assert(!ch.queryExecution.executedPlan.toString.contains("Except"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    val got = rows(ch)
    assert(got == Set(
      (2L, "b", 40, "delete"), (3L, "c", 50, "delete"),
      (3L, "c2", 51, "insert"), (5L, "e", 70, "insert")))
    // differential: identical to the materialized two-snapshot diff
    val newDf = t.readAsOfVersion(to)
    val oldDf = t.readAsOfVersion(from)
    val exp = rows(newDf.exceptAll(oldDf)
      .withColumn("_change_type", lit("insert"))
      .unionByName(oldDf.exceptAll(newDf)
        .withColumn("_change_type", lit("delete"))))
    assert(got == exp)
    // a non-accretive range (compaction removed files) falls back to
    // the materialized path and reports the same logical diff
    t.rewriteDataFiles()
    val to2 = t.meta.currentSnapshot.get.snapshotId
    assert(rows(t.changelog(Some(from), to2)) == got)
  }

  test("rewriteDataFiles compacts away delete files") {
    import spark.implicits._
    val t = morTable()
    t.delete(col("id") === 2L)
    t.rewriteDataFiles()
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty)
    assert(snap.operation == "replace")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // compaction preserves history: pre-compaction snapshot still reads
    val parent = snap.parentId.get
    assert(t.readAsOfVersion(parent).count() == 3)
  }

  test("full rewrite materializes deletes away; binpack carries them") {
    // the two compaction paths' MoR contracts, side by side: a FULL
    // rewrite (sorted or not) reads every row with positional AND
    // equality deletes applied and commits zero delete files; binpack
    // rewrites only selected files and must CARRY the delete files for
    // the ones it didn't touch
    import spark.implicits._
    val t = morTable()
    t.delete(col("id") === 2L)                        // positional
    t.upsertEqIfNewMarker(Seq((3L, "c2", 51)).toDF("id", "name", "age"),
      Seq("id"), "mor.full-rw.batch", 1L)             // equality + append
    assert(t.meta.currentSnapshot.get.deleteFiles.size == 2)
    val expect = Seq((1L, "a", 30), (3L, "c2", 51), (4L, "d", 60))
    t.rewriteDataFiles(sortBy = Seq("id"))
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty,
      "full rewrite must not carry delete files — they are materialized")
    assert(t.read().orderBy("id").as[(Long, String, Int)].collect().toSeq
      == expect)
    // binpack on a fresh copy: untouched files keep needing the deletes
    val b = morTable()
    b.delete(col("id") === 2L)
    b.upsertEqIfNewMarker(Seq((3L, "c2", 51)).toDF("id", "name", "age"),
      Seq("id"), "mor.binpack.batch", 1L)
    b.rewriteDataFilesBinpack(minFileSizeBytes = 1L)  // selects nothing
    assert(b.meta.currentSnapshot.get.deleteFiles.size == 2,
      "binpack with no selection must carry every delete file")
    assert(b.read().orderBy("id").as[(Long, String, Int)].collect().toSeq
      == expect)
  }

  test("expireSnapshots + removeOrphanFiles reclaim history and disk") {
    import spark.implicits._
    val t = morTable()
    t.delete(col("id") === 2L)
    t.rewriteDataFiles()
    val before = t.meta.snapshots.size
    assert(before == 4)
    t.expireSnapshots(keepLast = 1)
    assert(t.meta.snapshots.size == 1)
    val orphans = t.removeOrphanFiles(olderThanMs = 0)
    assert(orphans.nonEmpty, "expired snapshots' files reclaimed")
    // current state unaffected
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("tags and branches pin snapshots; expiry respects refs") {
    import spark.implicits._
    val t = morTable()
    val v0 = t.meta.currentSnapshot.get.snapshotId
    t.createTag("v1.0", Some(v0))
    t.delete(col("id") === 1L)
    t.createBranch("audit")
    assert(t.readRef("v1.0").count() == 4)
    assert(t.readRef("audit").count() == 3)
    assert(t.refs.count() == 3) // main + tag + branch
    t.expireSnapshots(keepLast = 1)
    // tag-pinned snapshot survives expiry
    assert(t.readRef("v1.0").count() == 4)
    t.dropRef("audit")
    assert(t.refs.count() == 2)
    intercept[RuntimeException](t.readRef("nope"))
  }

  test("concurrent marker appends from different streams never lose rows") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "mstreams", Seq("id" -> "long"))
    val n = 5
    def writer(stream: String, offset: Long): Thread = new Thread(() => {
      for (i <- 0 until n)
        t.appendIfNewMarker(Seq(offset + i).toDF("id"),
          s"graft.streaming.$stream.batch-id", i.toLong)
    })
    val (w1, w2) = (writer("s1", 100L), writer("s2", 200L))
    w1.start(); w2.start(); w1.join(); w2.join()
    // both streams' batches all landed; each stream's watermark is final
    assert(t.read().count() == 2L * n)
    assert(t.meta.properties("graft.streaming.s1.batch-id") == (n - 1).toString)
    assert(t.meta.properties("graft.streaming.s2.batch-id") == (n - 1).toString)
    // a replay of either stream's last batch is still a no-op
    assert(!t.appendIfNewMarker(Seq(999L).toDF("id"),
      "graft.streaming.s1.batch-id", (n - 1).toLong))
    assert(t.read().count() == 2L * n)
  }

  test("concurrent branch appends never lose a commit") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "race", Seq("id" -> "long"))
    t.append(Seq(0L).toDF("id"))
    t.createBranch("b")
    val n = 5
    def writer(offset: Long): Thread = new Thread(() => {
      for (i <- 0 until n)
        t.appendToBranch("b", Seq(offset + i).toDF("id"))
    })
    val (w1, w2) = (writer(100L), writer(200L))
    w1.start(); w2.start(); w1.join(); w2.join()
    // every append is on the branch exactly once; main untouched
    assert(t.readRef("b").count() == 1 + 2 * n)
    assert(t.read().count() == 1)
  }

  test("MERGE respects schema evolution and pre-existing MoR deletes") {
    import spark.implicits._
    import graft.engine._
    val t = GraftTable.create(spark, tmp(), "evm",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.merge.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.delete(col("id") === 3L) // positional delete hides row 3
    t.renameColumn("v", "val") // files on disk still say "v"
    val src = Seq((2L, "B"), (3L, "X"), (4L, "d")).toDF("sid", "sv")
    t.merge(src, col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("val" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(None,
        Map("id" -> col("sid"), "val" -> col("sv")))))
    // the MoR-deleted row 3 must NOT match (no resurrection) — its
    // source row takes the NOT MATCHED path and inserts fresh
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "X"), (4L, "d")))
    assert(t.read().columns.toSeq == Seq("id", "val"))
  }

  test("branch writes + fast-forward: write-audit-publish") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "wap", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    t.createBranch("audit")
    // stage two commits on the branch: main stays untouched
    t.appendToBranch("audit", Seq(3L).toDF("id"))
    t.appendToBranch("audit", Seq(4L).toDF("id"))
    assert(t.read().count() == 2, "main unchanged while staging")
    // staged snapshots are invisible to TIMESTAMP AS OF on main: time
    // travel resolves through the pointer history, not creation times
    assert(t.readAsOfTime(System.currentTimeMillis()).count() == 2,
      "timestamp travel must not leak unpublished branch data")
    assert(t.readRef("audit").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // publish: main fast-forwards to the branch head
    t.fastForward("audit")
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // a diverged main refuses to fast-forward (would drop commits)
    t.append(Seq(5L).toDF("id"))
    intercept[IllegalArgumentException](t.fastForward("audit"))
    intercept[RuntimeException](t.appendToBranch("nope", Seq(9L).toDF("id")))
    // tags are not writable branches
    t.createTag("v1")
    intercept[RuntimeException](t.appendToBranch("v1", Seq(9L).toDF("id")))
  }

  test("MoR MERGE: positional deletes + appended copies, no data rewrite") {
    import spark.implicits._
    import graft.engine._
    val t = GraftTable.create(spark, tmp(), "m3",
      Seq("id" -> "long", "v" -> "int"),
      properties = Map("write.merge.mode" -> "merge-on-read"))
    t.append(Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "v"))
    val dataBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
    val src = Seq((2L, 20), (3L, -1), (4L, 40)).toDF("sid", "sv")
    t.merge(src, col("id") === col("sid"),
      matched = Seq(
        MergeUpdateClause(Some(col("sv") > 0), Map("v" -> col("sv"))),
        MergeDeleteClause(None)),
      notMatched = Seq(MergeInsertValuesClause(None,
        Map("id" -> col("sid"), "v" -> col("sv")))))
    val snap = t.meta.currentSnapshot.get
    assert(dataBefore.subsetOf(snap.files.map(_.path).toSet),
      "MoR merge must not rewrite original data files")
    assert(snap.deleteFiles.nonEmpty, "positional delete file written")
    // updated copy of 2, 3 deleted, 4 inserted; originals of 2/3 hidden
    assert(t.read().orderBy("id").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 1), (2L, 20), (4L, 40)))
    // a second MoR DML on top of the merge applies existing deletes first
    t.delete(col("id") === 4L)
    assert(t.read().orderBy("id").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 1), (2L, 20)))
  }

  // ---- delete reach: positional deletes record their target files, so
  // ---- reads skip deletes they cannot touch and rewrites drop dead ones

  /** Two single-file appends: ids 1..10 and 11..20. */
  private def twoFileMorTable(name: String): GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), name,
      Seq("id" -> "long", "name" -> "string", "age" -> "int"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read"))
    Seq(1L to 10L, 11L to 20L).foreach(r => t.append(
      r.map(i => (i, s"n$i", i.toInt)).toDF("id", "name", "age").coalesce(1)))
    t
  }

  private def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
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

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Positional deletes apply inside the scan: the deletion-vector
    * predicate is in the plan exactly when a delete reaches the read,
    * and no read broadcasts anything for them.
    */
  private def assertDeletes(df: org.apache.spark.sql.DataFrame,
      reached: Boolean): Unit = {
    val p = planOf(df)
    assert(p.contains(graft.engine.DeletionVectors.PrettyName + "(") == reached, p)
    assert(!p.contains("BroadcastExchange") && !p.contains("LeftAnti"), p)
  }

  test("a binpack that rewrites every target of a positional delete " +
      "commits no delete file; counts answer from the manifest again") {
    import spark.implicits._
    val t = twoFileMorTable("reach_bp")
    t.delete(col("id") === 3L)
    t.update(col("id") === 15L, Map("age" -> lit(150)))
    val before = t.meta.currentSnapshot.get
    assert(before.deleteFiles.size == 2)
    // each delete records exactly the one file its row came from
    assert(before.deleteFiles.map(_.referencedDataFiles.size) == Vector(1, 1))
    assert(before.deleteFiles.flatMap(_.referencedDataFiles).toSet ==
      before.files.take(2).map(_.path).toSet)
    val expect = t.read().orderBy("id").as[(Long, String, Int)].collect().toSeq
    t.rewriteDataFilesBinpack()
    val after = t.meta.currentSnapshot.get
    assert(after.operation == "replace")
    assert(after.deleteFiles.isEmpty,
      "every delete target was rewritten: no delete file may be carried")
    assert(t.read().orderBy("id").as[(Long, String, Int)].collect().toSeq ==
      expect)
    assertDeletes(t.read(), reached = false)
    // manifest-only count: zero Spark jobs
    val (n, jobs) = jobsDuring(t.countRows())
    assert(n == 19L && jobs == 0, s"n=$n jobs=$jobs")
    assert(t.statsDf.filter(col("col_name") === "id")
      .select("record_count").as[Long].head() == 19L)
    // the changelog across a rewrite that dropped deletes has no rows
    assert(t.changelog(Some(before.snapshotId), after.snapshotId)
      .count() == 0L)
    // history keeps its deletes: the pre-binpack snapshot still hides
    assert(t.readAsOfVersion(before.snapshotId).count() == 19L)
  }

  test("a dead positional delete does not hide rows of a re-imported " +
      "add_files file") {
    import spark.implicits._
    val ext = tmp()
    Seq(0L until 10L, 10L until 20L).foreach(r =>
      r.map(i => (i, s"n$i", i.toInt)).toDF("id", "name", "age")
        .coalesce(1).write.mode("append").parquet(ext))
    val t = GraftTable.create(spark, tmp(), "reimport",
      Seq("id" -> "long", "name" -> "string", "age" -> "int"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.addFiles(ext)
    t.delete(col("id") === 3L)
    assert(t.read().count() == 19L)
    // binpack rewrites both imports; the delete's pointer (the external
    // path, pos 3) names a file that left the table...
    t.rewriteDataFilesBinpack()
    assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
    // ...so re-importing the same files must show every one of their rows
    t.addFiles(ext)
    assert(t.read().count() == 39L)
    assert(t.read().filter(col("id") === 3L).count() == 1L)
  }

  test("a pruned read that no delete reaches plans a plain scan, on the " +
      "current and on a time-travel snapshot") {
    import spark.implicits._
    val t = twoFileMorTable("reach_read")
    t.delete(col("id") === 3L) // reaches the 1..10 file only
    val s1 = t.meta.currentSnapshot.get
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().sorted.toSeq
    val far = t.readWhere(col("id") >= 12L)
    assertDeletes(far, reached = false)
    assert(ids(far) == ids(t.read().filter(col("id") >= 12L)))
    assert(ids(far) == (12L to 20L))
    // the reached file still merges
    val near = t.readWhere(col("id") <= 5L)
    assertDeletes(near, reached = true)
    assert(ids(near) == Seq(1L, 2L, 4L, 5L))
    // a later commit adds a file and a delete reaching it; the pruned
    // read of the OLD snapshot applies that snapshot's reach
    t.append((21L to 30L).map(i => (i, s"n$i", i.toInt))
      .toDF("id", "name", "age").coalesce(1))
    t.delete(col("id") === 25L)
    val m = t.meta
    val cond = org.apache.spark.sql.graftshim.expressionOf(col("id") >= 12L)
    val old = t.readPrunedIn(m, s1, cond).filter(col("id") >= 12L)
    assertDeletes(old, reached = false)
    assert(ids(old) ==
      ids(t.readAsOfVersion(s1.snapshotId).filter(col("id") >= 12L)))
    val oldNear = t.readPrunedIn(m, s1,
      org.apache.spark.sql.graftshim.expressionOf(col("id") <= 5L))
    assertDeletes(oldNear, reached = true)
    assert(ids(oldNear.filter(col("id") <= 5L)) == Seq(1L, 2L, 4L, 5L))
    assert(ids(t.read()) == (1L to 30L).filterNot(Set(3L, 25L)))
  }

  test("delete targets survive partition paths the scan percent-encodes") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "reach_enc",
      Seq("id" -> "long", "cat" -> "string"),
      partition = Seq("cat" -> "identity"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    val cats = Seq("a b", "c:d", "e%f", "plain")
    t.append(cats.zipWithIndex.flatMap { case (c, i) =>
      (0L until 3L).map(k => (i * 10L + k, c)) }.toDF("id", "cat")
      .coalesce(1))
    val files = t.meta.currentSnapshot.get.files
    cats.zipWithIndex.foreach { case (c, i) =>
      t.delete(col("id") === i * 10L + 1L)
      val d = t.meta.currentSnapshot.get.deleteFiles.last
      assert(d.referencedDataFiles ==
        files.filter(_.partitionValues("cat") == c).map(_.path),
        s"$c: recorded targets ${d.referencedDataFiles}")
    }
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      cats.indices.flatMap(i => Seq(i * 10L, i * 10L + 2L)))
    cats.foreach { c =>
      val one = t.readWhere(col("cat") === c)
      assert(one.count() == 2L, c)
    }
  }

  test("delete entries without recorded targets (older manifests) still " +
      "reach every file") {
    import spark.implicits._
    import graft.tableformat.MetadataIO
    val t = twoFileMorTable("reach_legacy")
    t.delete(col("id") === 3L)
    // strip the targets, as a manifest written before they existed
    MetadataIO.commitRetry(t.location) { cur =>
      cur.copy(snapshots = cur.snapshots.map { s =>
        if (!cur.currentSnapshotId.contains(s.snapshotId)) s
        else s.copy(inlineFiles = s.files,
          inlineDeleteFiles =
            s.deleteFiles.map(_.copy(referencedDataFiles = Vector.empty)),
          manifestList = None)
      })
    }
    val snap = t.meta.currentSnapshot.get
    val delManifests = snap.manifests.filter(_.kind == "delete")
    assert(delManifests.nonEmpty)
    delManifests.foreach { r =>
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${t.location}/${r.path}")), "UTF-8")
      assert(!raw.contains("referencedDataFiles"), raw)
    }
    assert(snap.deleteFiles.forall(_.referencedDataFiles.isEmpty))
    // an unknown delete applies to every read, even one pruned away
    // from it
    val far = t.readWhere(col("id") >= 12L)
    assertDeletes(far, reached = true)
    assert(far.count() == 9L)
    assert(t.read().filter(col("id") === 3L).count() == 0L)
    // and a rewrite of its real target cannot prove it dead while
    // another data file survives
    t.setProperties(Map("write.delete.mode" -> "copy-on-write"))
    t.delete(col("id") === 4L)
    assert(t.meta.currentSnapshot.get.deleteFiles.size == 1)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      (1L to 20L).filterNot(Set(3L, 4L)))
  }
}
