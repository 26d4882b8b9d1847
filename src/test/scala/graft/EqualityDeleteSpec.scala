package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.GraftTable
import graft.streaming.GraftTableSink

/** Equality deletes (format-v2's second merge-on-read delete kind):
  * value-keyed deletes with the strict sequence rule — a delete hides
  * only STRICTLY OLDER rows with equal keys, never the batch committed
  * alongside it. The write side is O(batch); readers anti-join until
  * compaction materializes the table.
  */
class EqualityDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-eq").toString

  test("eq upsert chain: each batch's keys replace strictly older copies") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "eqc",
      Seq("id" -> "long", "v" -> "string"))
    val up = GraftTableSink.upsertBatchEq(t, Seq("id"), "cdc")
    up(Seq((1L, "a0"), (2L, "b0")).toDF("id", "v"), 0L)
    val filesAfter0 = t.meta.currentSnapshot.get.files.map(_.path).toSet
    up(Seq((2L, "b1"), (3L, "c1")).toDF("id", "v"), 1L)
    up(Seq((3L, "c2"), (4L, "d2")).toDF("id", "v"), 2L)
    // no data file was ever rewritten; batches 1 and 2 each left an
    // eq-delete file (batch 0 hit an empty table — nothing to hide)
    val snap = t.meta.currentSnapshot.get
    assert(filesAfter0.subsetOf(snap.files.map(_.path).toSet))
    assert(snap.deleteFiles.count(_.equalityIds.nonEmpty) == 2)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a0"), (2L, "b1"), (3L, "c2"), (4L, "d2")))
    // replay of the last batch is a no-op
    val snaps = t.meta.snapshots.size
    up(Seq((3L, "c2"), (4L, "d2")).toDF("id", "v"), 2L)
    assert(t.meta.snapshots.size == snaps)
    // a batch with duplicate keys refuses loudly
    intercept[IllegalArgumentException](t.upsertEqIfNewMarker(
      Seq((9L, "x"), (9L, "y")).toDF("id", "v"), Seq("id"), "k", 50L))
  }

  test("eq deletes survive key-column rename and mix with positional deletes") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "eqr",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.upsertEqIfNewMarker(Seq((2L, "B")).toDF("id", "v"), Seq("id"), "m", 0L)
    // delete keys are stored by FIELD-ID, so renaming the key column
    // must not resurrect the old copy
    t.renameColumn("id", "doc_id")
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // positional MoR delete on top of the equality delete
    t.delete(col("doc_id") === 3L)
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B")))
    // CoW DML over both delete kinds must not resurrect anything
    t.update(col("doc_id") === 1L, Map("v" -> lit("A")))
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "A"), (2L, "B")))
  }

  test("eq-delete guards: type cast, widening, drop refusal, branch seq") {
    import spark.implicits._
    // int key column, long-typed batch: keys must cast to the TABLE'S
    // type or the committed delete file would be unreadable
    val t = GraftTable.create(spark, tmp(), "eqg",
      Seq("id" -> "int", "v" -> "string"))
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.upsertEqIfNewMarker(Seq((2L, "B")).toDF("id", "v"), Seq("id"), "m", 0L)
    assert(t.read().orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "B")))
    // widening the key type keeps existing delete files readable
    // (write-time schema + cast, like data files)
    t.alterColumnType("id", "long")
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B")))
    // dropping a live eq-delete key would brick every read: refused
    // until compaction + expiry retire the delete files
    intercept[IllegalArgumentException](t.dropColumn("id"))
    t.rewriteDataFiles()
    t.expireSnapshots(keepLast = 1)
    t.dropColumn("id")
    assert(t.read().columns.toSeq == Seq("v"))

    // branch appends sequence like main commits: a fresh branch row
    // must NOT be hidden by a pre-existing equality delete
    val t2 = GraftTable.create(spark, tmp(), "eqb",
      Seq("id" -> "long", "v" -> "string"))
    t2.append(Seq((1L, "a")).toDF("id", "v"))
    t2.upsertEqIfNewMarker(Seq((1L, "A")).toDF("id", "v"), Seq("id"), "m", 0L)
    t2.createBranch("b")
    t2.appendToBranch("b", Seq((1L, "fresh")).toDF("id", "v"))
    val branchRows = t2.readRef("b").as[(Long, String)].collect().toSeq
    assert(branchRows.map(_._2).sorted == Seq("A", "fresh"),
      s"branch row hidden by older eq delete: $branchRows")

    // no delete file for an empty target or an empty batch
    val t3 = GraftTable.create(spark, tmp(), "eqe",
      Seq("id" -> "long", "v" -> "string"))
    t3.upsertEqIfNewMarker(Seq((1L, "a")).toDF("id", "v"), Seq("id"), "m", 0L)
    assert(t3.meta.currentSnapshot.get.deleteFiles.isEmpty)
    t3.upsertEqIfNewMarker(Seq.empty[(Long, String)].toDF("id", "v"),
      Seq("id"), "m", 1L)
    assert(t3.meta.currentSnapshot.get.deleteFiles.isEmpty)
    assert(t3.read().count() == 1)
  }

  test("compaction materializes equality deletes away") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "eqz",
      Seq("id" -> "long", "v" -> "string"))
    val up = GraftTableSink.upsertBatchEq(t, Seq("id"), "z")
    up(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    up(Seq((2L, "B")).toDF("id", "v"), 1L)
    t.rewriteDataFiles()
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty, "compaction clears both delete kinds")
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B")))
    // time travel before compaction still resolves the eq deletes
    val pre = t.meta.snapshots.sortBy(_.timestampMs).dropRight(1).last
    assert(t.readAsOfVersion(pre.snapshotId).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "B")))
  }

  private def antiJoins(df: org.apache.spark.sql.DataFrame): Int =
    "LeftAnti".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("rewrite_delete_files: both kinds compact to positional, no data rewrite") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "eqm",
      Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    // one TWO-row file (5 live + 6 soon-deleted) — the dead-pointer
    // scenario below needs a rewrite of a file that still has a live
    // positional delete row pointing into it
    t.append(Seq((5L, "e"), (6L, "f")).toDF("id", "v").repartition(1))
    val up = GraftTableSink.upsertBatchEq(t, Seq("id"), "m")
    up(Seq((2L, "b1")).toDF("id", "v"), 0L)
    // a schema change between batches forces a SECOND eq-delete group
    // (same key ids, different write schema) — one more read anti-join
    t.renameColumn("id", "doc_id")
    val up2 = GraftTableSink.upsertBatchEq(t, Seq("doc_id"), "m2")
    up2(Seq((3L, "c1")).toDF("doc_id", "v"), 0L)
    // plus positional deletes from MoR DML
    t.delete(col("v").isin("d", "f"))
    val snap0 = t.meta.currentSnapshot.get
    assert(snap0.deleteFiles.count(_.equalityIds.nonEmpty) == 2)
    assert(snap0.deleteFiles.count(_.equalityIds.isEmpty) >= 1)
    val expect = Seq((1L, "a"), (2L, "b1"), (3L, "c1"), (5L, "e"))
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq == expect)
    // read plan before: anti-joins for the 2 eq groups (Catalyst may
    // clone anti-joins through the schema-group Union, so compare
    // counts rather than pin an absolute node total); the positional
    // set filters inside the scan as deletion vectors, with no join
    val joinsBefore = antiJoins(t.read())
    assert(joinsBefore >= 2)
    val planBefore = t.read().queryExecution.executedPlan.toString
    assert(planBefore.contains("_k_"))
    assert(planBefore.contains(graft.engine.DeletionVectors.PrettyName + "("))

    t.rewriteDeleteFiles()
    val snap1 = t.meta.currentSnapshot.get
    // data files untouched — only the delete-file set changed
    assert(snap1.files.map(_.path) == snap0.files.map(_.path))
    assert(snap1.deleteFiles.nonEmpty && snap1.deleteFiles.forall(_.equalityIds.isEmpty))
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq == expect)
    // the per-group eq anti-joins (and their seq join) are gone: no
    // equality-key or delete-seq attributes remain — only the single
    // positional delete set applies, inside the scan, with no join
    val planAfter = t.read().queryExecution.executedPlan.toString
    assert(!planAfter.contains("_k_") && !planAfter.contains("__del_seq"))
    assert(!planAfter.contains("LeftOuter"), "seq-lookup join must be gone")
    assert(antiJoins(t.read()) == 0)
    assert(planAfter.contains(graft.engine.DeletionVectors.PrettyName + "("))
    // the compacted rows are exactly the hidden positions: old copies
    // of keys 2 and 3, and the deleted rows 4 and 6
    assert(snap1.deleteFiles.map(_.recordCount).sum == 4)

    // dead-pointer reclaim: a copy-on-write UPDATE of id=5 rewrites the
    // two-row file, stranding the delete row that pointed at id=6's
    // position in it...
    t.setProperties(Map("write.update.mode" -> "copy-on-write"))
    t.update(col("doc_id") === 5L, Map("v" -> lit("e2")))
    val expect2 = Seq((1L, "a"), (2L, "b1"), (3L, "c1"), (5L, "e2"))
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq == expect2)
    // ...so a second maintenance pass drops it and stays correct
    t.rewriteDeleteFiles()
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq == expect2)
    val snap2 = t.meta.currentSnapshot.get
    assert(snap2.deleteFiles.map(_.recordCount).sum == 3)
    // idempotent on an already-compacted table
    t.rewriteDeleteFiles()
    assert(t.read().orderBy("doc_id").as[(Long, String)].collect().toSeq == expect2)
  }

  test("a rewrite drops an equality delete once every surviving file " +
      "sequences after it, and keeps it while one older file survives") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "eqreach",
      Seq("id" -> "long", "cat" -> "string", "v" -> "string"),
      partition = Seq("cat" -> "identity"))
    def add(rows: (Long, String, String)*): Unit =
      t.append(rows.toDF("id", "cat", "v").coalesce(1))
    add((1L, "a", "x"), (2L, "a", "x"))
    add((3L, "a", "x"))
    add((10L, "b", "x"))
    val up = GraftTableSink.upsertBatchEq(t, Seq("id"), "eqreach")
    up(Seq((1L, "a", "y")).toDF("id", "cat", "v"), 0L)
    val eqSeq = t.meta.currentSnapshot.get.deleteFiles
      .filter(_.equalityIds.nonEmpty).map(_.seq)
    assert(eqSeq.size == 1)
    def rows() = t.read().orderBy("id").as[(Long, String, String)]
      .collect().toSeq
    val expect1 = Seq((1L, "a", "y"), (2L, "a", "x"), (3L, "a", "x"),
      (10L, "b", "x"))
    assert(rows() == expect1)
    // packs 'a' (three files); the lone 'b' file is older than the
    // delete and survives, so the delete must stay
    t.rewriteDataFilesBinpack()
    val s1 = t.meta.currentSnapshot.get
    assert(s1.files.count(_.partitionValues("cat") == "a") == 1)
    assert(s1.deleteFiles.map(_.seq) == eqSeq, "an older file survives")
    assert(rows() == expect1)
    // fragment 'b' and pack it: every surviving file now sequences
    // after the delete, which drops with this commit
    add((11L, "b", "x"))
    t.rewriteDataFilesBinpack()
    val s2 = t.meta.currentSnapshot.get
    assert(s2.files.forall(_.seq > eqSeq.head))
    assert(s2.deleteFiles.isEmpty)
    assert(rows() == expect1 :+ ((11L, "b", "x")))
    assert(t.countRows() == 5L)
    assert(antiJoins(t.read()) == 0)
  }
}
