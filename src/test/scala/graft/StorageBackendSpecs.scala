package graft

import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite
import graft.tableformat.{CatalogCommitServer, CatalogFileIO, FileIO,
  LocalFileIO, MetadataIO, ObjectStoreFileIO}

/** Forked-JVM plumbing shared by the cross-process tests: same
  * classpath and --add-opens as this JVM, plus the parent's FileIO
  * backend handed to the child via GRAFT_FILEIO (RaceChild/FuzzChild
  * call FileIO.installFromEnv() at startup) — both sides of a race
  * must run the same storage semantics or the claim protocol under
  * test isn't the one arbitrating.
  */
object ForkHelper {
  import scala.jdk.CollectionConverters._

  def forkJava(mainClass: String, args: Seq[String],
      fileIOEnv: Option[String], outDir: java.nio.file.Path,
      tag: String): Process = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("--enable-native-access")).toSeq
    val cp = Seq(
      new java.io.File("target/scala-2.13/classes").getAbsolutePath,
      new java.io.File("target/scala-2.13/test-classes").getAbsolutePath,
      "/opt/spark/jars/*").mkString(":")
    val pb = new ProcessBuilder((Seq(javaBin) ++ opens ++
      Seq("-Xmx2g", "-cp", cp, mainClass) ++ args).asJava)
      .redirectOutput(outDir.resolve(s"$tag.out").toFile)
      .redirectError(outDir.resolve(s"$tag.err").toFile)
    fileIOEnv.foreach(v => pb.environment().put("GRAFT_FILEIO", v))
    pb.start()
  }
}

/** Runs an entire inherited suite under [[ObjectStoreFileIO]] — the
  * strict flat-key / LIST-derived / second-mtime object-store contract
  * — instead of POSIX. Any test that passes under LocalFileIO but
  * fails here has found a hidden POSIX assumption in the engine.
  */
trait ObjectStoreBackend extends BeforeAndAfterAll { this: Suite =>
  override def beforeAll(): Unit = {
    FileIO.install(new ObjectStoreFileIO)
    super.beforeAll()
  }
  override def afterAll(): Unit =
    try super.afterAll() finally FileIO.install(LocalFileIO)
}

/** Runs an inherited suite with commits arbitrated by a loopback
  * [[CatalogCommitServer]] over plain-PUT storage — the documented
  * fallback for stores without conditional PUT.
  */
trait CatalogBackend extends BeforeAndAfterAll { this: Suite =>
  protected var catalogServer: CatalogCommitServer = _
  override def beforeAll(): Unit = {
    catalogServer = new CatalogCommitServer
    FileIO.install(new CatalogFileIO("127.0.0.1", catalogServer.port))
    super.beforeAll()
  }
  override def afterAll(): Unit =
    try super.afterAll() finally {
      FileIO.install(LocalFileIO)
      catalogServer.close()
    }
}

// ---- the object-store test matrix: the full table-lifecycle suites,
// unchanged, re-run with the strict object-store semantics installed.

class TableFormatObjectStoreSpec extends TableFormatSpec
  with ObjectStoreBackend

class EngineObjectStoreSpec extends EngineSpec with ObjectStoreBackend {
  override protected def childFileIOEnv: Option[String] = Some("objectstore")
}

class ViewObjectStoreSpec extends ViewSpec with ObjectStoreBackend

class DmlFuzzObjectStoreSpec extends DmlFuzzSpec with ObjectStoreBackend {
  override protected def childFileIOEnv: Option[String] = Some("objectstore")
}

// ---- catalog-CAS twins of the cheap metadata-heavy suites: every
// table/view commit arbitrates through the slot service instead of
// conditional PUT. (The heavy Engine/DmlFuzz suites are covered on
// this path by CatalogCommitSpec's cross-process race below.)

class TableFormatCatalogSpec extends TableFormatSpec with CatalogBackend

class ViewCatalogSpec extends ViewSpec with CatalogBackend

/** The catalog-CAS commit path: unit semantics plus the cross-process
  * commit race arbitrated by the toy REST-catalog-style service —
  * proof the claim protocol does not depend on conditional PUT when a
  * catalog supplies the arbitration.
  */
class CatalogCommitSpec extends AnyFunSuite with CatalogBackend {
  import org.apache.spark.sql.SparkSession

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-cat").toString

  test("claim CAS: one winner per slot across threads, content lands " +
      "complete; losers see false") {
    val io = FileIO.io
    val dir = tmp()
    val p = s"$dir/v1.metadata.json"
    val wins = (0 until 16).map { i =>
      java.util.concurrent.CompletableFuture.supplyAsync { () =>
        if (io.claim(p, s"writer-$i")) 1 else 0
      }
    }.map(_.join()).sum
    assert(wins == 1)
    assert(io.readString(p).startsWith("writer-"))
    // the slot stays claimed forever — a commit slot's semantics
    assert(!io.claim(p, "late"))
  }

  test("REST commit shape: the document is durable before the CAS; a " +
      "loser heals a crashed winner's unpublished slot") {
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val dir = tmp()
    val path = s"$dir/metadata/v1.metadata.json"
    io.crashAfterCasForTesting = true
    try intercept[IllegalStateException](io.claim(path, "doc-1"))
    finally io.crashAfterCasForTesting = false
    // the winner died between CAS and publish: the canonical key is
    // physically absent, but a READER's exists-probe on a version
    // document heals it from the registered staged copy — the commit
    // is visible without waiting for the next writer (REST-catalog
    // reader semantics)
    assert(io.exists(path) && io.readString(path) == "doc-1")
    // and the next claimant simply loses the CAS (the commit happened)
    assert(!io.claim(path, "doc-2"))
    assert(io.readString(path) == "doc-1")
  }

  test("kill-between-CAS-and-publish: the table stays fully " +
      "committable by the next writer, which also heals the commit") {
    import spark.implicits._
    val loc = tmp()
    val t = graft.engine.GraftTable.create(spark, loc, "heal_t",
      Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id").coalesce(1))
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    io.crashAfterCasForTesting = true
    try {
      val ex = intercept[Exception](t.append(Seq(2L).toDF("id").coalesce(1)))
      assert(ex.getMessage != null && ex.getMessage.contains("simulated"),
        s"unexpected: $ex")
    } finally io.crashAfterCasForTesting = false
    // the crashed append COMMITTED at the CAS (REST-catalog semantics:
    // the pointer swap is the commit); its document is just unpublished.
    // A plain READ heals it (version-doc exists-probe consults the
    // catalog) — the committed rows are visible with no writer involved
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // and the next writer rebases onto it — one ordinary append call
    t.append(Seq(3L).toDF("id").coalesce(1))
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // linear history INCLUDING the healed commit
    val m = t.meta
    val chain = Iterator.unfold(m.currentSnapshotId) {
      case Some(id) => m.snapshotById(id).map(s => (id, s.parentId))
      case None     => None
    }.size
    // 3 = the three appends, the crashed-then-healed one included
    // (create commits metadata only, no snapshot)
    assert(chain == m.snapshots.size && m.snapshots.size == 3,
      s"snapshots=${m.snapshots.size} chain=$chain")
  }

  test("staged-commit orphan GC: a staged doc whose canonical version " +
      "is missing survives any age; reclaimed once the version is visible") {
    import graft.tableformat.MetadataIO
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val loc = tmp()
    MetadataIO.commit(graft.tableformat.TableMetadata.create(
      "gc_staged", loc, Seq("id" -> "long")))
    // a staged doc with NO catalog registration and NO canonical key —
    // what a writer that crashed just before its CAS leaves behind
    // (reader-side healing can't publish it: the catalog never heard
    // of it), except here its canonical slot also never gets taken
    val staged = s"$loc/metadata/.commit-staging/v9.metadata.json.orphan"
    io.writeString(staged, "{}")
    val t = new graft.engine.GraftTable(spark, loc)
    // canonical missing: even a zero-age GC must not reclaim it (in
    // the claimed-but-unpublished case this doc is the healing
    // protocol's only durable input)
    t.removeOrphanFiles(olderThanMs = 0)
    assert(io.exists(staged), "canonical missing -> staged doc survives")
    // once the canonical version is visible the staged copy is garbage
    io.writeString(s"$loc/metadata/v9.metadata.json", "{}")
    t.removeOrphanFiles(olderThanMs = 0)
    assert(!io.exists(staged))
    // the crashed-winner shape end to end: crash between CAS and
    // publish, then GC — whose own metadata read HEALS the version
    // (reader-side healing), making the staged doc reclaimable in the
    // same sweep; the table is intact throughout
    io.crashAfterCasForTesting = true
    try intercept[IllegalStateException](
      MetadataIO.commit(MetadataIO.read(loc)))
    finally io.crashAfterCasForTesting = false
    t.removeOrphanFiles(olderThanMs = 0)
    assert(MetadataIO.currentVersion(loc).contains(2))
    assert(io.listDir(s"$loc/metadata/.commit-staging").isEmpty)
  }

  test("full table lifecycle commits through catalog arbitration") {
    import spark.implicits._
    val t = graft.engine.GraftTable.create(spark, tmp(), "cat_t",
      Seq("id" -> "long"))
    t.append(Seq(1L, 2L, 3L).toDF("id").coalesce(1))
    t.delete(org.apache.spark.sql.functions.col("id") === 2L)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(t.countRows() == 2L)
    t.expireSnapshots(keepLast = 1)
    t.removeOrphanFiles(olderThanMs = 0)
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("rename right after a kill-between-CAS-and-publish: the " +
      "unpublished commit travels — the pre-copy heal publishes it " +
      "before the key copy and the slot release") {
    import spark.implicits._
    val wh = tmp()
    val cat = new graft.catalog.GraftCatalog(spark, wh)
    val t = cat.createTable("db", "heal_mv_src", Seq("id" -> "long"))
    t.append(Seq(1L).toDF("id").coalesce(1))
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    io.crashAfterCasForTesting = true
    try intercept[Exception](t.append(Seq(2L).toDF("id").coalesce(1)))
    finally io.crashAfterCasForTesting = false
    // NO read in between (reads would heal): rename immediately — the
    // copy phase moves keys, and without the pre-copy heal the
    // unpublished v-doc is not a key, the source slots release, and the
    // crashed commit's rows silently vanish at the destination
    io.rename(s"$wh/db/heal_mv_src", s"$wh/db/heal_mv_dst")
    val moved = new graft.engine.GraftTable(spark, s"$wh/db/heal_mv_dst")
    assert(moved.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "the CAS-committed append must survive the rename")
    // and the moved table keeps committing normally
    moved.append(Seq(3L).toDF("id").coalesce(1))
    assert(moved.read().count() == 3)
  }

  test("racing renames to one destination arbitrate through the " +
      "catalog CAS: exactly one wins, the loser's source stays intact") {
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val dir = tmp()
    io.writeString(s"$dir/src1/metadata/v1.metadata.json", "one")
    io.writeString(s"$dir/src1/metadata/version-hint.text", "1")
    io.writeString(s"$dir/src2/metadata/v1.metadata.json", "two")
    io.writeString(s"$dir/src2/metadata/version-hint.text", "1")
    val results = Seq(s"$dir/src1", s"$dir/src2").map { src =>
      java.util.concurrent.CompletableFuture.supplyAsync { () =>
        try { io.rename(src, s"$dir/dst"); 1 }
        catch { case _: java.nio.file.FileAlreadyExistsException => 0 }
      }
    }.map(_.join())
    assert(results.sum == 1, s"exactly one rename may win: $results")
    val content = io.readString(s"$dir/dst/metadata/v1.metadata.json")
    val loser = if (content == "one") "src2" else "src1"
    assert(io.listRecursive(s"$dir/$loser").size == 2,
      "loser's source must be untouched")
    assert(!io.exists(s"$dir/dst/.rename-claim") &&
      !io.exists(s"$dir/dst/.rename-complete"))
  }

  test("crashed rename recovery on the catalog backend: roll-forward " +
      "releases the source's slots so the old location is creatable again") {
    import spark.implicits._
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val wh = tmp()
    val cat = new graft.catalog.GraftCatalog(spark, wh)
    val t = cat.createTable("db", "crash_src", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id").coalesce(1))
    io.storeForTesting.renameCrashPoint = Some("after-complete")
    spark.conf.set("spark.graft.warehouse", wh)
    try intercept[Exception](spark.sql(
      "ALTER TABLE graft.db.crash_src RENAME TO graft.db.crash_dst"))
    finally io.storeForTesting.renameCrashPoint = None
    // destination complete, source remnants + markers standing
    val (srcLoc, dstLoc) = (s"$wh/db/crash_src", s"$wh/db/crash_dst")
    assert(io.exists(s"$dstLoc/.rename-claim"))
    val r = io.recoverRename(dstLoc)
    assert(r.contains(graft.tableformat.RenameRolledForward(srcLoc)))
    assert(io.listRecursive(srcLoc).isEmpty)
    assert(spark.sql("SELECT count(*) FROM graft.db.crash_dst")
      .head().getLong(0) == 2L)
    // the rolled-forward SOURCE's catalog slots are released: a CREATE
    // at the old location claims v1 again instead of conflicting
    val t2 = cat.createTable("db", "crash_src", Seq("x" -> "long"))
    t2.append(Seq(9L).toDF("x").coalesce(1))
    assert(spark.sql("SELECT x FROM graft.db.crash_src")
      .head().getLong(0) == 9L)
  }

  test("rename releases the moved-away location's commit slots: " +
      "CREATE at the old location claims v1 again") {
    import spark.implicits._
    val wh = tmp()
    val cat = new graft.catalog.GraftCatalog(spark, wh)
    val t = cat.createTable("db", "before", Seq("id" -> "long"))
    t.append(Seq(1L, 2L).toDF("id").coalesce(1))
    spark.conf.set("spark.graft.warehouse", wh)
    spark.sql("ALTER TABLE graft.db.before RENAME TO graft.db.after")
    assert(spark.sql("SELECT count(*) FROM graft.db.after")
      .head().getLong(0) == 2L)
    // the old location's v1/v2 slots were claimed through the catalog
    // service; without the rename-release a re-create here would hit
    // CommitConflictException on its very first claim
    val t2 = cat.createTable("db", "before", Seq("x" -> "long"))
    t2.append(Seq(9L).toDF("x").coalesce(1))
    assert(spark.sql("SELECT x FROM graft.db.before").head().getLong(0) == 9L)
  }

  test("cross-process commit race through the catalog service: two " +
      "forked JVMs plus this session, every commit lands exactly once") {
    import spark.implicits._
    val loc = tmp()
    val t = graft.engine.GraftTable.create(spark, loc, "cat_race",
      Seq("id" -> "long", "src" -> "string"))
    t.append((1 to 4).map(i => (-i.toLong, "seed")).toDF("id", "src"))
    val dir = java.nio.file.Files.createTempDirectory("graft-catrace")
    val env = Some(s"catalog:${catalogServer.port}")
    val p1 = ForkHelper.forkJava("graft.RaceChild",
      Seq(loc, "w1", "1000", "4", "-1,-2"), env, dir, "w1")
    val p2 = ForkHelper.forkJava("graft.RaceChild",
      Seq(loc, "w2", "2000", "4", "-3,-4"), env, dir, "w2")
    for (i <- 0 until 4)
      t.append(Seq((3000L + i, "w0")).toDF("id", "src"))
    assert(p1.waitFor(240, java.util.concurrent.TimeUnit.SECONDS) &&
      p2.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
      "forked writers did not finish")
    assert(p1.exitValue() == 0 && p2.exitValue() == 0,
      s"forked writer failed: ${p1.exitValue()}/${p2.exitValue()}; " +
        s"logs under $dir")
    val m = t.meta
    assert(m.snapshots.size == 17, s"snapshot count: ${m.snapshots.size}")
    val rows = t.read().as[(Long, String)].collect().toSet
    val expected = (0 until 4).flatMap(i => Seq((1000L + i, "w1"),
      (2000L + i, "w2"), (3000L + i, "w0"))).toSet
    assert(rows == expected)
    // linear history across processes: the parent chain reaches every
    // snapshot — the catalog CAS never let two writers own one slot
    val chain = Iterator.unfold(m.currentSnapshotId) {
      case Some(id) => m.snapshotById(id).map(s => (id, s.parentId))
      case None     => None
    }.size
    assert(chain == m.snapshots.size, s"forked history: $chain")
  }

  test("wire framing: a slot path with an embedded tab/newline is " +
      "refused loudly on the client, and a mis-framed CLAIMALL is " +
      "rejected by the server rather than mis-parsed") {
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val dir = tmp()
    val hostile = s"$dir/evil\tname/metadata/v1.metadata.json"
    val e = intercept[IllegalArgumentException](io.claim(hostile, "doc"))
    assert(e.getMessage.contains("wire protocol"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](io.claimAll(Seq(
      s"$dir/ok/metadata/v1.metadata.json" -> "a",
      s"$dir/evil\nname/metadata/v1.metadata.json" -> "b")))
    assert(e2.getMessage.contains("wire protocol"), e2.getMessage)
    // neither refusal recorded anything: the clean slot is still free
    assert(io.claim(s"$dir/ok/metadata/v1.metadata.json", "a"))
  }

  test("ambiguous CLAIM outcome (response dropped after the server " +
      "recorded WIN): LOOKUP resolves it — the hidden winner publishes " +
      "instead of deleting its own staged doc and wedging the slot") {
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val dir = tmp()
    val p = s"$dir/metadata/v1.metadata.json"
    catalogServer.dropNextClaimResponseForTesting = true
    try assert(io.claim(p, "winner-doc"), "hidden WIN must resolve to true")
    finally catalogServer.dropNextClaimResponseForTesting = false
    assert(io.readString(p) == "winner-doc")
    // the slot is committed and healthy: a later claimant just loses
    assert(!io.claim(p, "late"))
    assert(io.readString(p) == "winner-doc")
  }

  test("ambiguous CLAIMALL outcome resolves the same way: the whole " +
      "set publishes, no staged doc deleted under a hidden WIN") {
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val dir = tmp()
    val slots = Seq(s"$dir/a/metadata/v1.metadata.json" -> "doc-a",
      s"$dir/b/metadata/v1.metadata.json" -> "doc-b")
    catalogServer.dropNextClaimResponseForTesting = true
    try assert(io.claimAll(slots) == graft.tableformat.ClaimAllWon)
    finally catalogServer.dropNextClaimResponseForTesting = false
    slots.foreach { case (p, c) => assert(io.readString(p) == c) }
  }

  test("a contended multi-table transaction's terminal conflict names " +
      "the table that actually conflicted, not an arbitrary member") {
    val dir = tmp()
    val (locA, locB) = (s"$dir/ta", s"$dir/tb")
    MetadataIO.commit(graft.tableformat.TableMetadata.create(
      "ta", locA, Seq("id" -> "long")))
    MetadataIO.commit(graft.tableformat.TableMetadata.create(
      "tb", locB, Seq("id" -> "long")))
    // wedge tb's NEXT slot at the catalog with NO document behind it
    // (a dangling claim — the manual-RELEASE shape): every transaction
    // attempt then conflicts on tb while ta's slot stays free, and
    // reads of tb are unaffected (nothing to heal from an empty docKey)
    val sock = new java.net.Socket("127.0.0.1", catalogServer.port)
    try {
      sock.getOutputStream.write(
        s"CLAIM $locB/metadata/v2.metadata.json\n".getBytes("UTF-8"))
      sock.getOutputStream.flush()
      val resp = new java.io.BufferedReader(new java.io.InputStreamReader(
        sock.getInputStream, "UTF-8")).readLine()
      assert(resp == "WIN", resp)
    } finally sock.close()
    val e = intercept[MetadataIO.CommitConflictException](
      MetadataIO.commitAll(Seq(
        locA -> identity[graft.tableformat.TableMetadata] _,
        locB -> identity[graft.tableformat.TableMetadata] _),
        attempts = 2))
    assert(e.getMessage.contains(locB),
      s"conflict must name tb ($locB): ${e.getMessage}")
  }

  test("rename destination holding a claimed-but-unpublished commit " +
      "slot: heal-then-refuse (a crashed create's commit survives as a " +
      "real key; the rename aborts instead of getting clobbered)") {
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val dir = tmp()
    val (src, dst) = (s"$dir/src", s"$dir/dst")
    io.writeString(s"$src/metadata/v1.metadata.json", "src-table")
    io.writeString(s"$src/metadata/version-hint.text", "1")
    // a create at dst that won its CAS and died before the publish PUT:
    // slot claimed, canonical key absent — invisible to any key LIST
    io.crashAfterCasForTesting = true
    try intercept[IllegalStateException](
      io.claim(s"$dst/metadata/v1.metadata.json", "crashed-create"))
    finally io.crashAfterCasForTesting = false
    assert(io.storeForTesting.listRecursive(dst)
      .forall(_.contains(".commit-staging")),
      "precondition: the crashed create left no canonical key")
    val e = intercept[java.nio.file.FileAlreadyExistsException](
      io.rename(src, dst))
    assert(e.getMessage.contains("claimed commit slots"), e.getMessage)
    // healed: the crashed create's commit is now a real, readable key
    assert(io.readString(s"$dst/metadata/v1.metadata.json") ==
      "crashed-create")
    // the source was never touched and no markers poison either side
    assert(io.readString(s"$src/metadata/v1.metadata.json") == "src-table")
    assert(!io.exists(s"$dst/.rename-claim") &&
      !io.exists(s"$dst/.rename-complete"))
  }

  test("mid-publish crash inside a multi-table transaction: a racing " +
      "reader sees both tables' new versions or both old — never a " +
      "torn pair (per-slot healing serves the unpublished half)") {
    import spark.implicits._
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val wh = tmp()
    val cat = new graft.catalog.GraftCatalog(spark, wh)
    val a = cat.createTable("db", "mp_corpus", Seq("id" -> "long"))
    val b = cat.createTable("db", "mp_index", Seq("id" -> "long"))
    cat.transact(a -> Seq(1L).toDF("id").coalesce(1),
      b -> Seq(1L).toDF("id").coalesce(1))
    val (locA, locB) = (s"$wh/db/mp_corpus", s"$wh/db/mp_index")
    val baseA = MetadataIO.read(locA).snapshots.size
    val baseB = MetadataIO.read(locB).snapshots.size
    // racing reader: probes BOTH tables' metadata through the healing
    // read path for the whole commit window; any probe where one table
    // shows the transaction and the other doesn't is a torn pair
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        // stability sandwich: a sample straddling the CAS instant would
        // look torn without being so — count it only when the first
        // table provably did not move across the second table's read
        val dA1 = MetadataIO.read(locA).snapshots.size - baseA
        val dB = MetadataIO.read(locB).snapshots.size - baseB
        val dA2 = MetadataIO.read(locA).snapshots.size - baseA
        probes.incrementAndGet()
        if (dA1 == dA2 && dA1 != dB) torn.incrementAndGet()
      }
    }, "torn-pair-probe")
    reader.start()
    io.crashMidPublishForTesting = true
    try {
      val e = intercept[Exception](cat.transact(
        a -> Seq(2L).toDF("id").coalesce(1),
        b -> Seq(2L).toDF("id").coalesce(1)))
      assert(e.getMessage != null && e.getMessage.contains("simulated"),
        e.toString)
    } finally io.crashMidPublishForTesting = false
    // linger in the crashed state: one canonical doc published, the
    // other staged-only — the reader must keep seeing a consistent pair
    Thread.sleep(300)
    stop.set(true); reader.join()
    assert(torn.get() == 0, s"torn pairs observed: ${torn.get()}")
    assert(probes.get() > 0, "the reader never probed")
    // the CAS committed the transaction: both tables show it after heal
    assert(a.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(b.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("a marker commit whose CAS won keeps its files: the next read " +
      "heals the batch in, and replaying the marker skips it") {
    import spark.implicits._
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    val t = graft.engine.GraftTable.create(spark, tmp(), "won_marker",
      Seq("id" -> "long", "v" -> "long"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1))
    val append = Seq((3L, 30L)).toDF("id", "v").coalesce(1)
    val upsert = Seq((1L, 11L), (4L, 40L)).toDF("id", "v").coalesce(1)
    io.crashAfterCasForTesting = true
    try {
      // each call wins its CAS and then dies before the publish PUT; the
      // upsert's own metadata read heals the append's commit first
      Seq(
        () => t.appendIfNewMarker(append, "graft.test.append", 1L),
        () => t.upsertIfNewMarker(upsert, Seq("id"), "graft.test.upsert", 1L)
      ).foreach { call =>
        val e = intercept[Exception](call())
        assert(String.valueOf(e.getMessage).contains("simulated"), e.toString)
      }
    } finally io.crashAfterCasForTesting = false
    // both commits happened at the CAS: a plain read heals them and
    // reads every file they reference, the upsert's delete file included
    val expected = Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L))
    assert(t.read().as[(Long, Long)].collect().sorted.toSeq == expected)
    assert(t.meta.snapshots.size == 3)
    // the markers committed with them, so a replay is a no-op
    assert(!t.appendIfNewMarker(append, "graft.test.append", 1L))
    assert(!t.upsertIfNewMarker(upsert, Seq("id"), "graft.test.upsert", 1L))
    assert(t.read().as[(Long, Long)].collect().sorted.toSeq == expected)
    assert(t.meta.snapshots.size == 3)
  }
}
