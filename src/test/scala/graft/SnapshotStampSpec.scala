package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.GraftCatalog
import graft.engine._
import graft.tableformat._

/** How snapshots are stamped. The characterization test pins, for
  * every op that makes a snapshot or moves main, everything the
  * written document says except snapshot ids and instants: operation,
  * parent, summary, per-file sequence numbers, `lastSequence`, refs,
  * the snapshot log's ids and whether the snapshot is sealed. The
  * clock-ahead test pins the instant rule itself: a new snapshot is
  * stamped strictly after every snapshot and log entry, and a log
  * entry never precedes the snapshot it makes current, even when an
  * earlier writer's clock ran an hour ahead. The SQL transactions
  * need an atomic multi-table claim, hence the catalog backend.
  */
class SnapshotStampSpec extends AnyFunSuite with CatalogBackend {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-stamp").toString

  /** Snapshot ids → ordinals in order of first appearance, so renders
    * compare across runs whose random ids differ.
    */
  private final class Ordinals {
    private val ids = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    def apply(id: Long): String = ids.getOrElseUpdate(id, s"s${ids.size + 1}")
  }

  /** Everything of `m` but ids and instants, for the snapshots not in
    * `before`: sizes render as `sum` when they equal the sum over the
    * files they summarize.
    */
  private def render(op: String, before: TableMetadata, m: TableMetadata,
      ord: Ordinals, sources: Map[String, String] = Map.empty): String = {
    m.snapshots.foreach(s => ord(s.snapshotId))
    val old = before.snapshots.map(_.snapshotId).toSet
    def files(fs: Vector[DataFileEntry]) = fs.map(f =>
      s"seq${f.seq}:${f.recordCount}r" +
        (if (f.equalityIds.nonEmpty) ":eq" else "")).sorted.mkString(",")
    val fresh = m.snapshots.filterNot(s => old(s.snapshotId)).map { s =>
      val parentFiles = s.parentId.flatMap(m.snapshotById)
        .map(_.files.map(_.path).toSet).getOrElse(Set.empty[String])
      val added = s.files.filterNot(f => parentFiles(f.path))
      val summary = s.summary.toSeq.sorted.map {
        case (k @ "total-files-size-bytes", v)
            if v == s.files.map(_.fileSizeBytes).sum.toString => s"$k=sum"
        case (k @ "added-files-size-bytes", v)
            if v == added.map(_.fileSizeBytes).sum.toString => s"$k=sum"
        case (k @ "source-snapshot-id", v) => s"$k=${ord(v.toLong)}"
        case (k @ "source-table", v) => s"$k=${sources.getOrElse(v, v)}"
        case (k, v) => s"$k=$v"
      }.mkString(" ")
      s"  + ${ord(s.snapshotId)} ${s.operation} " +
        s"parent=${s.parentId.map(ord(_)).getOrElse("-")} " +
        s"schema=${s.schemaId} spec=${s.specId} " +
        s"sealed=${s.manifestList.isDefined} [$summary] " +
        s"data=[${files(s.files)}] deletes=[${files(s.deleteFiles)}]"
    }
    (s"$op: current=${m.currentSnapshotId.map(ord(_)).getOrElse("-")} " +
      s"lastSequence=${m.lastSequence} " +
      s"refs=[${m.refs.map(r => s"${r.name}:${r.refType}:${ord(r.snapshotId)}")
        .mkString(",")}] " +
      s"log=[${m.snapshotLog.map(e => ord(e.snapshotId)).mkString(",")}]" +
      fresh.map("\n" + _).mkString)
  }

  test("characterization: every snapshot-making op writes the same " +
      "document but for snapshot ids and instants") {
    import spark.implicits._
    val ord = new Ordinals
    val out = Vector.newBuilder[String]
    def step(op: String, t: GraftTable,
        sources: Map[String, String] = Map.empty)(body: => Unit): Unit = {
      val before = t.meta
      body
      out += render(op, before, t.meta, ord, sources)
    }
    val cat = new GraftCatalog(spark, tmp())

    // copy-on-write table: data commits, branches, pointer moves
    val a = cat.createTable("db", "stamp_a", Seq("id" -> "long", "v" -> "string"))
    step("append", a)(a.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    step("append", a)(a.append(Seq((4L, "d"), (5L, "e")).toDF("id", "v")))
    step("cow delete", a)(a.delete(col("id") === 2L))
    step("cow update", a)(a.update(col("id") === 3L, Map("v" -> lit("C"))))
    step("cow merge", a)(a.merge(Seq((4L, "D"), (6L, "f")).toDF("sid", "sv"),
      col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(None,
        Map("id" -> col("sid"), "v" -> col("sv"))))))
    val imports = tmp() + "/imports"
    Seq((20L, "x"), (21L, "y")).toDF("id", "v").coalesce(1)
      .write.parquet(imports)
    step("addFiles", a)(a.addFiles(imports))
    a.createBranch("audit")
    step("appendToBranch", a)(a.appendToBranch("audit", Seq((7L, "g")).toDF("id", "v")))
    val staged = a.meta.refs.find(_.name == "audit").get.snapshotId
    step("appendToBranch", a)(a.appendToBranch("audit", Seq((8L, "h")).toDF("id", "v")))
    step("cherrypickSnapshot", a)(a.cherrypickSnapshot(staged))
    step("rewriteManifests", a)(a.rewriteManifests())
    val beforeTruncate = a.meta.currentSnapshotId.get
    step("truncate", a)(a.truncate())
    step("rollbackTo", a)(a.rollbackTo(beforeTruncate))
    val auditHead = a.meta.refs.find(_.name == "audit").get.snapshotId
    step("setCurrentSnapshot", a)(a.setCurrentSnapshot(auditHead))
    a.createBranch("wap")
    step("appendToBranch", a)(a.appendToBranch("wap", Seq((9L, "i")).toDF("id", "v")))
    step("fastForward", a)(a.fastForward("wap"))
    spark.sql("BEGIN TRANSACTION")
    val beforeTx = a.meta
    spark.sql("INSERT INTO graft.db.stamp_a VALUES (30, 'tx')")
    spark.sql("DELETE FROM graft.db.stamp_a WHERE id = 1")
    spark.sql("UPDATE graft.db.stamp_a SET v = 'E' WHERE id = 5")
    spark.sql("COMMIT")
    out += render("sql transaction", beforeTx, a.meta, ord)

    // merge-on-read table: delete files, sequence numbers, and a clone
    // that must keep both
    val b = cat.createTable("db", "stamp_b", Seq("id" -> "long", "v" -> "string"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"))
    step("append", b)(b.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    step("append", b)(b.append(Seq((4L, "d"), (5L, "e")).toDF("id", "v")))
    step("mor delete", b)(b.delete(col("id") === 2L))
    step("mor update", b)(b.update(col("id") === 3L, Map("v" -> lit("C"))))
    step("mor merge", b)(b.merge(Seq((4L, "D"), (6L, "f")).toDF("sid", "sv"),
      col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(None,
        Map("id" -> col("sid"), "v" -> col("sv"))))))
    val cloneLoc = tmp() + "/clone"
    val c = b.snapshotTo(cloneLoc, "stamp_clone")
    out += render("clone", TableMetadata.create("x", cloneLoc, Nil), c.meta,
      ord, Map(b.location -> "<source>"))
    assert(c.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      b.read().orderBy("id").as[(Long, String)].collect().toSeq)

    val got = out.result().mkString("\n")
    assert(got == Expected, s"\n--- got ---\n$got\n--- end ---")
  }

  /** What each op wrote when every site still stamped its own
    * snapshot; only a deliberate change to a document's shape may
    * change it.
    */
  private val Expected =
    """append: current=s1 lastSequence=1 refs=[] log=[s1]
    |  + s1 append parent=- schema=0 spec=0 sealed=true [added-data-files=3 added-files-size-bytes=sum added-records=3 total-data-files=3 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=3] data=[seq1:1r,seq1:1r,seq1:1r] deletes=[]
    |append: current=s2 lastSequence=2 refs=[] log=[s1,s2]
    |  + s2 append parent=s1 schema=0 spec=0 sealed=true [added-data-files=2 added-files-size-bytes=sum added-records=2 total-data-files=5 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=5] data=[seq1:1r,seq1:1r,seq1:1r,seq2:1r,seq2:1r] deletes=[]
    |cow delete: current=s3 lastSequence=3 refs=[] log=[s1,s2,s3]
    |  + s3 delete parent=s2 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=0 total-data-files=5 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=4] data=[seq1:1r,seq1:1r,seq2:1r,seq2:1r,seq3:0r] deletes=[]
    |cow update: current=s4 lastSequence=4 refs=[] log=[s1,s2,s3,s4]
    |  + s4 overwrite parent=s3 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=1 total-data-files=5 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=4] data=[seq1:1r,seq2:1r,seq2:1r,seq3:0r,seq4:1r] deletes=[]
    |cow merge: current=s5 lastSequence=5 refs=[] log=[s1,s2,s3,s4,s5]
    |  + s5 overwrite parent=s4 schema=0 spec=0 sealed=true [added-data-files=2 added-files-size-bytes=sum added-records=2 total-data-files=6 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=5] data=[seq1:1r,seq2:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r] deletes=[]
    |addFiles: current=s6 lastSequence=6 refs=[] log=[s1,s2,s3,s4,s5,s6]
    |  + s6 append parent=s5 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=2 total-data-files=7 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=7] data=[seq1:1r,seq2:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r,seq6:2r] deletes=[]
    |appendToBranch: current=s6 lastSequence=7 refs=[audit:BRANCH:s7] log=[s1,s2,s3,s4,s5,s6]
    |  + s7 append parent=s6 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=1 total-data-files=8 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=8] data=[seq1:1r,seq2:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r,seq6:2r,seq7:1r] deletes=[]
    |appendToBranch: current=s6 lastSequence=8 refs=[audit:BRANCH:s8] log=[s1,s2,s3,s4,s5,s6]
    |  + s8 append parent=s7 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=1 total-data-files=9 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=9] data=[seq1:1r,seq2:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r,seq6:2r,seq7:1r,seq8:1r] deletes=[]
    |cherrypickSnapshot: current=s9 lastSequence=9 refs=[audit:BRANCH:s8] log=[s1,s2,s3,s4,s5,s6,s9]
    |  + s9 append parent=s6 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=1 source-snapshot-id=s7 total-data-files=8 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=8] data=[seq1:1r,seq2:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r,seq6:2r,seq9:1r] deletes=[]
    |rewriteManifests: current=s10 lastSequence=9 refs=[audit:BRANCH:s8] log=[s1,s2,s3,s4,s5,s6,s9,s10]
    |  + s10 replace parent=s9 schema=0 spec=0 sealed=true [added-data-files=0 added-files-size-bytes=sum added-records=0 manifests-created=1 manifests-replaced=4 source-snapshot-id=s7 total-data-files=8 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=8] data=[seq1:1r,seq2:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r,seq6:2r,seq9:1r] deletes=[]
    |truncate: current=s11 lastSequence=10 refs=[audit:BRANCH:s8] log=[s1,s2,s3,s4,s5,s6,s9,s10,s11]
    |  + s11 overwrite parent=s10 schema=0 spec=0 sealed=true [added-data-files=0 added-files-size-bytes=sum added-records=0 total-data-files=0 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=0] data=[] deletes=[]
    |rollbackTo: current=s10 lastSequence=10 refs=[audit:BRANCH:s8] log=[s1,s2,s3,s4,s5,s6,s9,s10,s11,s10]
    |setCurrentSnapshot: current=s8 lastSequence=10 refs=[audit:BRANCH:s8] log=[s1,s2,s3,s4,s5,s6,s9,s10,s11,s10,s8]
    |appendToBranch: current=s8 lastSequence=11 refs=[audit:BRANCH:s8,wap:BRANCH:s12] log=[s1,s2,s3,s4,s5,s6,s9,s10,s11,s10,s8]
    |  + s12 append parent=s8 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=1 total-data-files=10 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=10] data=[seq11:1r,seq1:1r,seq2:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r,seq6:2r,seq7:1r,seq8:1r] deletes=[]
    |fastForward: current=s12 lastSequence=11 refs=[audit:BRANCH:s8,wap:BRANCH:s12] log=[s1,s2,s3,s4,s5,s6,s9,s10,s11,s10,s8,s12]
    |sql transaction: current=s13 lastSequence=14 refs=[audit:BRANCH:s8,wap:BRANCH:s12] log=[s1,s2,s3,s4,s5,s6,s9,s10,s11,s10,s8,s12,s13]
    |  + s13 overwrite parent=s12 schema=0 spec=0 sealed=true [added-data-files=3 added-files-size-bytes=sum added-records=2 total-data-files=11 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=10] data=[seq11:1r,seq12:1r,seq13:0r,seq14:1r,seq3:0r,seq4:1r,seq5:1r,seq5:1r,seq6:2r,seq7:1r,seq8:1r] deletes=[]
    |append: current=s14 lastSequence=1 refs=[] log=[s14]
    |  + s14 append parent=- schema=0 spec=0 sealed=true [added-data-files=3 added-files-size-bytes=sum added-records=3 total-data-files=3 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=3] data=[seq1:1r,seq1:1r,seq1:1r] deletes=[]
    |append: current=s15 lastSequence=2 refs=[] log=[s14,s15]
    |  + s15 append parent=s14 schema=0 spec=0 sealed=true [added-data-files=2 added-files-size-bytes=sum added-records=2 total-data-files=5 total-delete-files=0 total-files-size-bytes=sum total-position-deletes=0 total-records=5] data=[seq1:1r,seq1:1r,seq1:1r,seq2:1r,seq2:1r] deletes=[]
    |mor delete: current=s16 lastSequence=3 refs=[] log=[s14,s15,s16]
    |  + s16 delete parent=s15 schema=0 spec=0 sealed=true [added-data-files=0 added-files-size-bytes=sum added-records=0 total-data-files=5 total-delete-files=1 total-files-size-bytes=sum total-position-deletes=1 total-records=5] data=[seq1:1r,seq1:1r,seq1:1r,seq2:1r,seq2:1r] deletes=[seq3:1r]
    |mor update: current=s17 lastSequence=4 refs=[] log=[s14,s15,s16,s17]
    |  + s17 overwrite parent=s16 schema=0 spec=0 sealed=true [added-data-files=1 added-files-size-bytes=sum added-records=1 total-data-files=6 total-delete-files=2 total-files-size-bytes=sum total-position-deletes=2 total-records=6] data=[seq1:1r,seq1:1r,seq1:1r,seq2:1r,seq2:1r,seq4:1r] deletes=[seq3:1r,seq4:1r]
    |mor merge: current=s18 lastSequence=5 refs=[] log=[s14,s15,s16,s17,s18]
    |  + s18 overwrite parent=s17 schema=0 spec=0 sealed=true [added-data-files=2 added-files-size-bytes=sum added-records=2 total-data-files=8 total-delete-files=3 total-files-size-bytes=sum total-position-deletes=3 total-records=8] data=[seq1:1r,seq1:1r,seq1:1r,seq2:1r,seq2:1r,seq4:1r,seq5:1r,seq5:1r] deletes=[seq3:1r,seq4:1r,seq5:1r]
    |clone: current=s19 lastSequence=5 refs=[] log=[s19]
    |  + s19 clone parent=- schema=0 spec=0 sealed=true [added-data-files=8 added-files-size-bytes=sum added-records=8 source-snapshot-id=s18 source-table=<source> total-data-files=8 total-delete-files=3 total-files-size-bytes=sum total-position-deletes=3 total-records=8] data=[seq1:1r,seq1:1r,seq1:1r,seq2:1r,seq2:1r,seq4:1r,seq5:1r,seq5:1r] deletes=[seq3:1r,seq4:1r,seq5:1r]""".stripMargin

  // ------------------------------------------------------ clock-ahead

  private val Hour = 3600L * 1000

  /** The instant rule, checked on one op's before/after documents. */
  private def stampProblems(op: String, before: TableMetadata,
      after: TableMetadata): Seq[String] = {
    val seen = before.snapshots.map(_.snapshotId).toSet
    val last = (before.snapshots.map(_.timestampMs) ++
      before.snapshotLog.map(_.timestampMs)).maxOption.getOrElse(Long.MinValue)
    val early = after.snapshots.filterNot(s => seen(s.snapshotId))
      .filter(_.timestampMs <= last).map(s =>
        s"$op: new snapshot stamped ${s.timestampMs}, not after the " +
          s"document's latest instant $last")
    val logged = after.snapshotLog.drop(before.snapshotLog.size)
    val beforeSnap = logged.flatMap(e => after.snapshotById(e.snapshotId)
      .filter(_.timestampMs > e.timestampMs).map(s =>
        s"$op: log entry ${e.timestampMs} precedes its snapshot's " +
          s"stamp ${s.timestampMs}"))
    val ts = after.snapshotLog.map(_.timestampMs)
    val unordered =
      if (ts.zip(ts.drop(1)).forall { case (x, y) => x < y }) Nil
      else Seq(s"$op: snapshot log not strictly increasing: $ts")
    early ++ beforeSnap ++ unordered
  }

  private def shift(t: GraftTable, ids: Map[Long, Long]): Unit =
    MetadataIO.commitRetry(t.location)(cur => cur.copy(snapshots =
      cur.snapshots.map(s => s.copy(timestampMs =
        s.timestampMs + ids.getOrElse(s.snapshotId, 0L)))))

  test("a writer whose clock ran an hour ahead: every later snapshot " +
      "and pointer move is stamped after it") {
    import spark.implicits._
    val problems = Vector.newBuilder[String]
    def checked(op: String, t: GraftTable)(body: => Unit): Unit = {
      val before = t.meta
      body
      problems ++= stampProblems(op, before, t.meta)
    }

    // case 1: branch heads stamped ahead, then published
    val t = GraftTable.create(spark, tmp(), "ahead_branch", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id"))
    t.createBranch("b1"); t.createBranch("b2")
    t.appendToBranch("b1", Seq(3L).toDF("id"))
    t.appendToBranch("b2", Seq(4L).toDF("id"))
    def head(b: String) = t.meta.refs.find(_.name == b).get.snapshotId
    shift(t, Map(head("b1") -> Hour, head("b2") -> 2 * Hour))
    checked("fastForward", t)(t.fastForward("b1"))
    checked("setCurrentSnapshot", t)(t.setCurrentSnapshot(head("b2")))
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))

    // case 2: main's last log entry stamped ahead, then every op that
    // stamps a snapshot or a log entry
    val cat = new GraftCatalog(spark, tmp())
    val u = cat.createTable("db", "ahead_log", Seq("id" -> "long"))
    u.append(Seq(1L).toDF("id"))
    u.append(Seq(2L).toDF("id"))
    u.createBranch("stage")
    MetadataIO.commitRetry(u.location)(cur => cur.copy(snapshotLog =
      cur.snapshotLog.init :+ cur.snapshotLog.last.copy(
        timestampMs = cur.snapshotLog.last.timestampMs + Hour)))
    checked("appendToBranch", u)(u.appendToBranch("stage", Seq(3L).toDF("id")))
    val first = u.meta.snapshotLog.head.snapshotId
    checked("rollbackTo", u)(u.rollbackTo(first))
    checked("cherrypickSnapshot", u)(
      u.cherrypickSnapshot(u.meta.refs.find(_.name == "stage").get.snapshotId))
    u.append(Seq(4L).toDF("id"))
    checked("rewriteManifests", u)(u.rewriteManifests())
    assert(u.meta.currentSnapshot.get.operation == "replace",
      "rewriteManifests must have had small manifests to merge")
    checked("sql transaction", u) {
      spark.sql("BEGIN TRANSACTION")
      spark.sql("INSERT INTO graft.db.ahead_log VALUES (5)")
      spark.sql("INSERT INTO graft.db.ahead_log VALUES (6)")
      spark.sql("COMMIT")
    }
    assert(u.read().as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L, 6L))

    val found = problems.result()
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
