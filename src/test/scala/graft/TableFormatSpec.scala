package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.tableformat._

class TableFormatSpec extends AnyFunSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft-tf").toString

  test("metadata JSON round-trip preserves everything") {
    val loc = tmp()
    val m0 = TableMetadata.create("t", loc,
      Seq("id" -> "long", "name" -> "string", "added_at" -> "timestamp"),
      properties = Map("k" -> "v"))
    val withSnap = m0.copy(
      currentSnapshotId = Some(42L),
      snapshots = Vector(Snapshot(42L, None, 1000L, "append", 0, 0,
        Vector(DataFileEntry("data/x/p.parquet", 10, 0, Map("id" -> "1"))),
        Map("total-records" -> "10"))),
      snapshotLog = Vector(SnapshotLogEntry(1000L, 42L)))
    MetadataIO.commit(withSnap)
    val back = MetadataIO.read(loc)
    assert(back.name == "t")
    assert(back.currentSchema.fields.map(f => (f.id, f.name, f.dataType)) ==
      Vector((1, "id", "long"), (2, "name", "string"), (3, "added_at", "timestamp")))
    assert(back.currentSnapshotId.contains(42L))
    assert(back.snapshots.head.files.head.partitionValues == Map("id" -> "1"))
    assert(back.metadataLog.map(_.file) == Vector("v1.metadata.json"))
    assert(MetadataIO.currentVersion(loc).contains(1))
  }

  test("commit bumps versions and appends to metadata log") {
    val loc = tmp()
    val m = TableMetadata.create("t", loc, Seq("a" -> "int"))
    MetadataIO.commit(m)
    MetadataIO.commit(MetadataIO.read(loc))
    MetadataIO.commit(MetadataIO.read(loc))
    assert(MetadataIO.currentVersion(loc).contains(3))
    assert(MetadataIO.read(loc).metadataLog.map(_.file) ==
      Vector("v1.metadata.json", "v2.metadata.json", "v3.metadata.json"))
  }

  test("bounded metadata history: log trims, old documents deleted when enabled") {
    val loc = tmp()
    val m0 = TableMetadata.create("t", loc, Seq("a" -> "int"))
    MetadataIO.commit(m0.copy(properties = m0.properties +
      ("write.metadata.previous-versions-max" -> "3") +
      ("write.metadata.delete-after-commit.enabled" -> "true")))
    (1 to 10).foreach(_ => MetadataIO.commit(MetadataIO.read(loc)))
    assert(MetadataIO.currentVersion(loc).contains(11))
    val m = MetadataIO.read(loc)
    // log keeps the newest (maxPrev + 1) entries; versions stay exact
    assert(m.metadataLog.map(_.file) == Vector(
      "v8.metadata.json", "v9.metadata.json",
      "v10.metadata.json", "v11.metadata.json"))
    // trimmed-out documents are physically gone, kept ones readable
    assert(!Files.exists(Paths.get(MetadataIO.metadataPath(loc, 7))))
    assert(!Files.exists(Paths.get(MetadataIO.metadataPath(loc, 1))))
    assert(Files.exists(Paths.get(MetadataIO.metadataPath(loc, 8))))
    assert(MetadataIO.readVersion(loc, 8).metadataLog.nonEmpty)
    // next commit still claims version 12 (lineage from the LAST entry)
    MetadataIO.commit(MetadataIO.read(loc))
    assert(MetadataIO.currentVersion(loc).contains(12))
    // without the delete opt-in the log still trims but files remain
    val loc2 = tmp()
    val n0 = TableMetadata.create("t2", loc2, Seq("a" -> "int"))
    MetadataIO.commit(n0.copy(properties = n0.properties +
      ("write.metadata.previous-versions-max" -> "2")))
    (1 to 5).foreach(_ => MetadataIO.commit(MetadataIO.read(loc2)))
    assert(MetadataIO.read(loc2).metadataLog.size == 3)
    assert(Files.exists(Paths.get(MetadataIO.metadataPath(loc2, 1))))
  }

  test("optimistic commits: two racing writers never lose an update") {
    val loc = tmp()
    MetadataIO.commit(TableMetadata.create("t", loc, Seq("a" -> "int")))
    val n = 20
    def bump(tag: String): Thread = new Thread(() => {
      for (i <- 0 until n)
        MetadataIO.commitRetry(loc)(cur =>
          cur.copy(properties = cur.properties + (s"$tag-$i" -> "x")))
    })
    val (t1, t2) = (bump("w1"), bump("w2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    val m = MetadataIO.read(loc)
    for (tag <- Seq("w1", "w2"); i <- 0 until n)
      assert(m.properties.contains(s"$tag-$i"), s"lost commit $tag-$i")
    // every commit claimed its own version; none were clobbered
    assert(MetadataIO.currentVersion(loc).contains(1 + 2 * n))
    assert(m.metadataLog.size == 1 + 2 * n)
  }

  test("single-attempt commit conflicts loudly instead of clobbering") {
    val loc = tmp()
    MetadataIO.commit(TableMetadata.create("t", loc, Seq("a" -> "int")))
    val base = MetadataIO.read(loc) // both writers start from v1
    MetadataIO.commit(base.copy(properties = base.properties + ("w1" -> "x")))
    intercept[MetadataIO.CommitConflictException] {
      MetadataIO.commit(base.copy(properties = base.properties + ("w2" -> "x")))
    }
    // the winner's commit is intact
    assert(MetadataIO.read(loc).properties.contains("w1"))
  }

  test("resolve: current name, renamed name, never-existed") {
    val loc = tmp()
    // mirror reference employee: schema 0 'Phone' -> schema 1 'Phone number'
    val s0 = VersionedSchema(0, Vector(
      FieldDef(1, "Index", "long"), FieldDef(6, "Phone", "string")))
    val s1 = VersionedSchema(1, Vector(
      FieldDef(1, "Index", "long"), FieldDef(6, "Phone number", "string")))
    val m = TableMetadata.create("e", loc, Seq("x" -> "int"))
      .copy(schemas = Vector(s0, s1), currentSchemaId = 1)
    assert(SchemaHistory.resolve(m, "Index") == SchemaHistory.Current("Index"))
    assert(SchemaHistory.resolve(m, "Phone") ==
      SchemaHistory.Renamed("Phone number", 6, 0))
    assert(SchemaHistory.resolve(m, "Fax") == SchemaHistory.NeverExisted)
  }

  test("resolve: rename chains land on the current name") {
    // mirror changelog_testing: name -> new_name -> name3 ... 7 renames
    val names = Vector("name", "new_name", "name3", "name4", "name5")
    val schemas = names.zipWithIndex.map { case (n, i) =>
      VersionedSchema(i, Vector(FieldDef(1, "id", "int"), FieldDef(2, n, "string")))
    }
    val m = TableMetadata.create("c", tmp(), Seq("x" -> "int"))
      .copy(schemas = schemas, currentSchemaId = schemas.last.schemaId)
    for (old <- names.dropRight(1))
      assert(SchemaHistory.resolve(m, old) match {
        case SchemaHistory.Renamed("name5", 2, _) => true
        case other => fail(s"$old resolved to $other")
      })
  }

  test("resolve: drop-then-readd binds the newest field-id (reference `test` table)") {
    val s0 = VersionedSchema(0, Vector(FieldDef(1, "id", "int"), FieldDef(2, "age", "string")))
    val s1 = VersionedSchema(1, Vector(FieldDef(1, "id", "int"))) // drop age
    val s2 = VersionedSchema(2, Vector(FieldDef(1, "id", "int"), FieldDef(3, "age", "string")))
    val m = TableMetadata.create("t", tmp(), Seq("x" -> "int"))
      .copy(schemas = Vector(s0, s1, s2), currentSchemaId = 2)
    // 'age' is current (field-id 3); historical field-id 2 is unreachable by name
    assert(SchemaHistory.resolve(m, "age") == SchemaHistory.Current("age"))
    // now drop the re-added one too: old name maps to the NEWEST historical binding
    val s3 = VersionedSchema(3, Vector(FieldDef(1, "id", "int")))
    val m2 = m.copy(schemas = m.schemas :+ s3, currentSchemaId = 3)
    assert(SchemaHistory.resolve(m2, "age") == SchemaHistory.Dropped(3))
  }

  test("positional resolution") {
    val m = TableMetadata.create("t", tmp(),
      Seq("Index" -> "long", "First Name" -> "string"))
    assert(SchemaHistory.byPosition(m, 1).contains("First Name"))
    assert(SchemaHistory.byPosition(m, 9).isEmpty)
  }

  test("snapshot selection by time and version") {
    val snaps = Vector(
      Snapshot(1L, None, 100L, "append", 0, 0, Vector.empty),
      Snapshot(2L, Some(1L), 200L, "append", 0, 0, Vector.empty),
      Snapshot(3L, Some(2L), 300L, "delete", 0, 0, Vector.empty))
    val m = TableMetadata.create("t", tmp(), Seq("x" -> "int"))
      .copy(snapshots = snaps, currentSnapshotId = Some(3L),
        // time travel resolves through the POINTER history, not the
        // global snapshot list (branch/rollback isolation)
        snapshotLog = snaps.map(s => SnapshotLogEntry(s.timestampMs, s.snapshotId)))
    assert(m.snapshotAsOfTime(50L).isEmpty)              // before first
    assert(m.snapshotAsOfTime(100L).map(_.snapshotId).contains(1L)) // exact
    assert(m.snapshotAsOfTime(250L).map(_.snapshotId).contains(2L)) // between
    assert(m.snapshotAsOfTime(9999L).map(_.snapshotId).contains(3L)) // after last
    assert(m.snapshotById(2L).map(_.operation).contains("append"))
    assert(m.snapshotById(99L).isEmpty)
  }

  test("older metadata JSON without newer fields still reads (defaults apply)") {
    // simulate a document written before bounds/deleteFiles/refs existed
    val loc = tmp()
    val json =
      """{
        |  "name":"old","location":"LOC","formatVersion":2,
        |  "currentSchemaId":0,
        |  "schemas":[{"schemaId":0,"fields":[{"id":1,"name":"id","dataType":"long","nullable":true}]}],
        |  "currentSpecId":0,"partitionSpecs":[{"specId":0,"fields":[]}],
        |  "currentSnapshotId":7,
        |  "snapshots":[{"snapshotId":7,"timestampMs":1000,"operation":"append",
        |    "schemaId":0,"specId":0,
        |    "files":[{"path":"data/a.parquet","recordCount":3,"schemaId":0}],
        |    "summary":{}}],
        |  "snapshotLog":[{"timestampMs":1000,"snapshotId":7}],
        |  "metadataLog":[],"properties":{}
        |}""".stripMargin.replace("LOC", loc)
    Files.createDirectories(java.nio.file.Paths.get(loc, "metadata"))
    Files.writeString(Paths.get(MetadataIO.metadataPath(loc, 1)), json)
    Files.writeString(java.nio.file.Paths.get(loc, "metadata", "version-hint.text"), "1")
    val m = MetadataIO.read(loc)
    val s = m.currentSnapshot.get
    assert(s.files.head.lowerBounds.isEmpty && s.deleteFiles.isEmpty)
    assert(s.parentId.isEmpty)
    assert(m.refs.isEmpty)
  }

  test("manifest layering: appends share parent manifests by pointer " +
      "and the root document's per-commit growth stays flat") {
    val loc = tmp()
    MetadataIO.commit(TableMetadata.create("t", loc, Seq("id" -> "long")))
    def entry(i: Int) = DataFileEntry(s"data/f$i.parquet", 10, 0,
      lowerBounds = Map("1" -> (i * 100).toString),
      upperBounds = Map("1" -> (i * 100 + 99).toString),
      nullCounts = Map("1" -> 0L), fileSizeBytes = 1000L)
    val n = 40
    var docSizes = Vector.empty[Long]
    for (i <- 1 to n) {
      val cur = MetadataIO.read(loc)
      val files = cur.currentSnapshot.map(_.files).getOrElse(Vector.empty) :+
        entry(i)
      val v = MetadataIO.commit(cur.copy(
        currentSnapshotId = Some(i.toLong),
        snapshots = cur.snapshots :+ Snapshot(i.toLong,
          cur.currentSnapshotId, 1000L + i, "append", 0, 0, files),
        snapshotLog = cur.snapshotLog :+ SnapshotLogEntry(1000L + i, i.toLong)))
      docSizes :+= Files.size(Paths.get(MetadataIO.metadataPath(loc, v)))
    }
    // the root document holds ONE pointer per snapshot, so each commit
    // grows it by a constant-size snapshot entry — with inline file
    // lists commit k would re-serialize all k·(k+1)/2 accumulated
    // entries (~10× this bound by n=40)
    val growth = docSizes.sliding(2).map(p => p(1) - p(0)).toVector
    assert(growth.takeRight(10).max <= 2048,
      s"per-commit doc growth not flat: $growth")
    // structural sharing: n appends wrote exactly n manifests —
    // snapshot k reuses its parent's k-1 by pointer
    val mfCount = Files.list(java.nio.file.Paths.get(loc, "metadata"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("mf-"))
    assert(mfCount == n, s"expected $n shared manifests, found $mfCount")
    val m = MetadataIO.read(loc)
    val last = m.currentSnapshot.get
    val prev = m.snapshotById((n - 1).toLong).get
    assert(last.manifests.map(_.path).toSet
      .intersect(prev.manifests.map(_.path).toSet).size == n - 1)
    // the lazy view still serves the full inventory, summaries intact
    assert(last.files.size == n && last.totalRecords == 10L * n)
    assert(last.manifests.forall(r => r.kind == "data" &&
      r.schemaIds == Vector(0) && r.lowerBounds.contains("1")))
  }

  test("manifest layering: a rewritten file list rewrites only the " +
      "touched manifests; delete-file manifests seal separately") {
    val loc = tmp()
    MetadataIO.commit(TableMetadata.create("t", loc, Seq("id" -> "long")))
    def entry(i: Int) = DataFileEntry(s"data/f$i.parquet", 10, 0)
    // commit 1: files 1..3 in one manifest
    val c1 = MetadataIO.read(loc)
    MetadataIO.commit(c1.copy(currentSnapshotId = Some(1L),
      snapshots = c1.snapshots :+ Snapshot(1L, None, 1001L, "append", 0, 0,
        Vector(entry(1), entry(2), entry(3))),
      snapshotLog = c1.snapshotLog :+ SnapshotLogEntry(1001L, 1L)))
    // commit 2: file 2 dropped (CoW delete shape) + a MoR delete file
    val c2 = MetadataIO.read(loc)
    val kept = c2.currentSnapshot.get.files.filterNot(_.path == "data/f2.parquet")
    MetadataIO.commit(c2.copy(currentSnapshotId = Some(2L),
      snapshots = c2.snapshots :+ Snapshot(2L, Some(1L), 1002L, "delete", 0, 0,
        kept, Map.empty,
        Vector(DataFileEntry("data/d1-deletes.parquet", 1, 0))),
      snapshotLog = c2.snapshotLog :+ SnapshotLogEntry(1002L, 2L)))
    val m = MetadataIO.read(loc)
    val s2 = m.currentSnapshot.get
    // the touched manifest was rewritten (no pointer sharing possible)
    assert(m.snapshotById(1L).get.manifests.map(_.path)
      .intersect(s2.manifests.map(_.path)).isEmpty)
    assert(s2.files.map(_.path).sorted ==
      Vector("data/f1.parquet", "data/f3.parquet"))
    assert(s2.deleteFiles.map(_.path) == Vector("data/d1-deletes.parquet"))
    assert(s2.manifests.map(_.kind).sorted == Vector("data", "delete"))
    // snapshot 1 still serves its full pre-delete inventory
    assert(m.snapshotById(1L).get.files.size == 3)
  }

  test("churn seal never references a data file from two manifests — " +
      "covered sets are built from the SAME entry read as the reuse " +
      "decision (cache-eviction double-count guard)") {
    val loc = tmp()
    MetadataIO.commit(TableMetadata.create("t", loc, Seq("id" -> "long"),
      properties = Map("graft.manifest.target-entries" -> "4")))
    def entry(i: Int) = DataFileEntry(f"data/f$i%02d.parquet", 10, 0)
    val c1 = MetadataIO.read(loc)
    MetadataIO.commit(c1.copy(currentSnapshotId = Some(1L),
      snapshots = c1.snapshots :+ Snapshot(1L, None, 1001L, "append", 0, 0,
        (1 to 12).map(entry).toVector),
      snapshotLog = c1.snapshotLog :+ SnapshotLogEntry(1001L, 1L)))
    // force the PATH-reuse branch: the churn inventory is built from
    // freshly parsed objects (cold cache), so identity containment
    // misses completely and reuse must go through the path check —
    // the branch where a second readEntries under LRU pressure used
    // to produce entries absent from BOTH covered sets
    Manifests.clearCachesForTesting()
    val c2 = MetadataIO.read(loc)
    val kept = c2.currentSnapshot.get.files
      .filterNot(_.path == "data/f07.parquet")
    Manifests.clearCachesForTesting()
    MetadataIO.commit(c2.copy(currentSnapshotId = Some(2L),
      snapshots = c2.snapshots :+ Snapshot(2L, Some(1L), 1002L, "delete",
        0, 0, kept),
      snapshotLog = c2.snapshotLog :+ SnapshotLogEntry(1002L, 2L)))
    Manifests.clearCachesForTesting()
    val s2 = MetadataIO.read(loc).currentSnapshot.get
    val allPaths = s2.manifests.filter(_.kind == "data")
      .flatMap(r => Manifests.readEntries(loc, r)).map(_.path)
    assert(allPaths.size == allPaths.distinct.size,
      s"file referenced by two manifests: ${allPaths.diff(allPaths.distinct)}")
    assert(allPaths.sorted == (1 to 12).filter(_ != 7)
      .map(i => f"data/f$i%02d.parquet").toVector)
    // untouched manifests were reused by pointer despite the cold cache
    assert(MetadataIO.read(loc).snapshotById(1L).get.manifests.map(_.path)
      .intersect(s2.manifests.map(_.path)).size == 2)
  }

  test("manifest line codec: streaming writer/parser round-trips, and " +
      "both directions interoperate with the json4s reflection codec") {
    import org.json4s._
    import org.json4s.jackson.{JsonMethods, Serialization}
    implicit val fmts: Formats = DefaultFormats
    val cases = Vector(
      DataFileEntry("data/plain.parquet", 10, 0),
      DataFileEntry("data/ünïcode \"q\" \\ tab\t.parquet", 0, 3,
        partitionValues = Map("p" -> "a=b/c", "q" -> ""),
        lowerBounds = Map("1" -> "-12.5", "2" -> "emoji🙂"),
        upperBounds = Map("1" -> "99", "2" -> "z\nline"),
        nullCounts = Map("1" -> 0L, "2" -> 123456789012L),
        fileSizeBytes = Long.MaxValue, seq = 42L,
        equalityIds = Vector(1, 7, 2)),
      DataFileEntry("data/u-deletes/part-0.parquet", 3, 1,
        referencedDataFiles = Vector("data/a/part-0.parquet",
          "/ext/dir with space/ü.parquet")),
      DataFileEntry("data/negative.parquet", Long.MaxValue, Int.MaxValue,
        fileSizeBytes = 1L))
    cases.foreach { e =>
      // new writer -> new parser
      val line = Manifests.renderEntries(Vector(e)).trim
      assert(Manifests.parseEntryLine(line) == e, s"self round-trip: $e")
      // new writer -> json4s reflection parser (case-class defaults
      // fill the omitted default-valued fields)
      assert(JsonMethods.parse(line).extract[DataFileEntry] == e,
        s"json4s reads streaming output: $e")
      // json4s writer (all fields, any order irrelevant) -> new parser
      val legacy = Serialization.write(e)
      assert(Manifests.parseEntryLine(legacy) == e,
        s"streaming reads json4s output: $e")
    }
    // unknown fields skip (forward compat), missing optionals default
    val extra = """{"path":"p","recordCount":1,"schemaId":0,""" +
      """"future":{"nested":[1,2]},"alsoNew":"x"}"""
    assert(Manifests.parseEntryLine(extra) == DataFileEntry("p", 1, 0))
    // a delete entry written before targets were recorded: no
    // referencedDataFiles field, read as "unknown" (reaches every file)
    val legacyDelete = Manifests.parseEntryLine(
      """{"path":"data/x-deletes/p.parquet","recordCount":2,"schemaId":0,""" +
        """"fileSizeBytes":10,"seq":3}""")
    assert(legacyDelete.referencedDataFiles.isEmpty)
    assert(legacyDelete == DataFileEntry("data/x-deletes/p.parquet", 2, 0,
      fileSizeBytes = 10, seq = 3))
  }

  test("manifest line codec: property round-trip over arbitrary " +
      "entries (any unicode in paths, bounds, partition values)") {
    import org.scalacheck.{Arbitrary, Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    val strMap: Gen[Map[String, String]] =
      Gen.mapOf(Gen.zip(Gen.alphaNumStr, Arbitrary.arbitrary[String]))
    val entryGen: Gen[DataFileEntry] = for {
      path <- Arbitrary.arbitrary[String].suchThat(_ != null)
      rc <- Gen.chooseNum(0L, Long.MaxValue)
      sid <- Gen.chooseNum(0, Int.MaxValue)
      pv <- strMap; lo <- strMap; hi <- strMap
      nulls <- Gen.mapOf(Gen.zip(Gen.alphaNumStr, Gen.chooseNum(0L, Long.MaxValue)))
      size <- Gen.chooseNum(0L, Long.MaxValue)
      seq <- Gen.chooseNum(0L, Long.MaxValue)
      eq <- Gen.listOf(Gen.chooseNum(1, 1000)).map(_.toVector)
      refs <- Gen.listOf(Arbitrary.arbitrary[String]).map(_.toVector)
    } yield DataFileEntry(path, rc, sid, pv, lo, hi, nulls, size, seq, eq,
      refs)
    val prop = Prop.forAll(entryGen) { e =>
      // the codec writes JSON-LINES: entries containing raw newlines in
      // strings must be escaped by the writer (jackson always does) so
      // one entry stays one line
      val rendered = Manifests.renderEntries(Vector(e))
      val lines = rendered.split("\n").filter(_.nonEmpty)
      lines.length == 1 && Manifests.parseEntryLine(lines(0)) == e
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("seal fallback: a REORDERED inventory (lockstep finds no " +
      "consecutive blocks) still reuses every untouched manifest " +
      "through the identity path, with no double-reference") {
    val loc = tmp()
    MetadataIO.commit(TableMetadata.create("t", loc, Seq("id" -> "long"),
      properties = Map("graft.manifest.target-entries" -> "4")))
    def entry(i: Int) = DataFileEntry(f"data/r$i%02d.parquet", 10, 0)
    val c1 = MetadataIO.read(loc)
    MetadataIO.commit(c1.copy(currentSnapshotId = Some(1L),
      snapshots = c1.snapshots :+ Snapshot(1L, None, 1001L, "append", 0, 0,
        (1 to 12).map(entry).toVector),
      snapshotLog = c1.snapshotLog :+ SnapshotLogEntry(1001L, 1L)))
    val c2 = MetadataIO.read(loc)
    // REVERSE the inventory: same objects, order destroyed — the
    // lockstep walk reuses nothing, so the hash fallback must engage
    val reversed = c2.currentSnapshot.get.files.reverse
    MetadataIO.commit(c2.copy(currentSnapshotId = Some(2L),
      snapshots = c2.snapshots :+ Snapshot(2L, Some(1L), 1002L,
        "replace", 0, 0, reversed),
      snapshotLog = c2.snapshotLog :+ SnapshotLogEntry(1002L, 2L)))
    val m = MetadataIO.read(loc)
    val s1 = m.snapshotById(1L).get
    val s2 = m.snapshotById(2L).get
    // identity fallback: every parent manifest reused by pointer
    assert(s1.manifests.map(_.path).toSet == s2.manifests.map(_.path).toSet,
      "reordered-same-content inventory must reuse all manifests")
    val allPaths = s2.manifests.flatMap(r => Manifests.readEntries(loc, r))
      .map(_.path)
    assert(allPaths.size == allPaths.distinct.size)
    assert(allPaths.sorted == (1 to 12).map(i => f"data/r$i%02d.parquet").toVector)
  }

  test("nextFieldId never reuses dropped ids") {
    val s0 = VersionedSchema(0, Vector(FieldDef(1, "a", "int"), FieldDef(2, "b", "int")))
    val s1 = VersionedSchema(1, Vector(FieldDef(1, "a", "int")))
    val m = TableMetadata.create("t", tmp(), Seq("x" -> "int"))
      .copy(schemas = Vector(s0, s1), currentSchemaId = 1)
    assert(m.nextFieldId == 3)
  }
}
