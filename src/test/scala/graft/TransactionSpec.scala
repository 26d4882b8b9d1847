package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{GraftCatalog, ViewIO, ViewMetadata}
import graft.tableformat.{CatalogFileIO, FileIO, ObjectStoreFileIO}

/** Multi-table transactions: one catalog CAS covering several tables'
  * next-version claims (the Iceberg REST-catalog capability) — commit
  * all or none, readers never observe a subset. The LLM-pipeline shape
  * this exists for: publish a corpus table and its fingerprint/dedup
  * index in lockstep.
  */
class TransactionSpec extends AnyFunSuite with CatalogBackend {

  lazy val spark = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-txn").toString

  test("transact commits appends to two tables atomically; a racing " +
      "single-table commit makes the whole set rebase and retry") {
    import spark.implicits._
    val cat = new GraftCatalog(spark, tmp())
    val a = cat.createTable("db", "corpus",
      Seq("id" -> "long", "v" -> "string"))
    val b = cat.createTable("db", "fp",
      Seq("id" -> "long", "v" -> "string"))
    val versions = cat.transact(
      a -> Seq((1L, "doc1")).toDF("id", "v"),
      b -> Seq((1L, "fp1")).toDF("id", "v"))
    assert(versions == Seq(2, 2), versions.toString) // v1 = create
    assert(a.read().count() == 1 && b.read().count() == 1)
    // a single-table append between transactions: the next transaction
    // rebases on it (same contract as commitRetry) instead of losing it
    a.append(Seq((100L, "solo")).toDF("id", "v"))
    cat.transact(
      a -> Seq((2L, "doc2")).toDF("id", "v"),
      b -> Seq((2L, "fp2")).toDF("id", "v"))
    assert(a.read().count() == 3, "solo append lost by the transaction")
    assert(b.read().count() == 2)
    assert(a.countRows() == 3 && b.countRows() == 2)
    // linear history on both tables
    Seq(a, b).foreach { t =>
      val m = t.meta
      val chain = Iterator.unfold(m.currentSnapshotId) {
        case Some(id) => m.snapshotById(id).map(s => (s, s.parentId))
        case None     => None
      }.size
      assert(chain == m.snapshots.size)
    }
    // one table may appear once per transaction — compose instead
    intercept[IllegalArgumentException](cat.transact(
      a -> Seq((8L, "x")).toDF("id", "v"),
      a -> Seq((9L, "y")).toDF("id", "v")))
    // transaction-consistent TIME TRAVEL: each transaction's snapshots
    // share ONE commit timestamp across tables, so AS OF any instant
    // reads a consistent set — probe at the first transaction's stamp:
    // b must already show its half even though a committed "first"
    val aTs = a.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs)
    val bTs = b.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs)
    // a has one extra (the solo append); the two transactions align
    assert(bTs.toSet.subsetOf(aTs.toSet),
      s"transaction timestamps not aligned: a=$aTs b=$bTs")
    val t1 = bTs.head
    assert(a.readAsOfTime(t1).count() == 1 && b.readAsOfTime(t1).count() == 1)
    assert(a.readAsOfTime(t1 - 1).count() == 0 &&
      b.readAsOfTime(t1 - 1).count() == 0)
  }

  test("kill between the CAS and the publish PUTs: the transaction is " +
      "COMMITTED for both tables — readers heal each document, never " +
      "observe a subset") {
    import spark.implicits._
    val cat = new GraftCatalog(spark, tmp())
    val a = cat.createTable("db", "c2", Seq("id" -> "long"))
    val b = cat.createTable("db", "f2", Seq("id" -> "long"))
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    io.crashAfterCasForTesting = true
    try intercept[IllegalStateException](cat.transact(
      a -> Seq(1L).toDF("id"), b -> Seq(10L).toDF("id")))
    finally io.crashAfterCasForTesting = false
    // the CAS won: the transaction IS committed, with zero documents
    // published — plain reads heal both tables' versions
    assert(a.read().as[Long].collect().toSeq == Seq(1L))
    assert(b.read().as[Long].collect().toSeq == Seq(10L))
    // the next transaction rebases on the healed commits
    cat.transact(a -> Seq(2L).toDF("id"), b -> Seq(20L).toDF("id"))
    assert(a.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(b.read().as[Long].collect().sorted.toSeq == Seq(10L, 20L))
  }

  test("exactly-once two-table publish (transactIfNewMarker): a batch " +
      "killed between CAS and publish is COMMITTED whole — the replay " +
      "skips whole, rows and markers never tear") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val cat = new GraftCatalog(spark, tmp())
    val corpus = cat.createTable("db", "sdocs",
      Seq("doc_id" -> "long", "text" -> "string"))
    val idx = cat.createTable("db", "sfp", Seq("fp" -> "string"))
    def fps(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(col("text")).as("fp"))
    val b1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    assert(cat.transactIfNewMarker("graft.batch", 1L,
      corpus -> b1, idx -> fps(b1)))
    // micro-batch 2 dies between the catalog CAS and the publish PUTs
    val b2 = Seq((3L, "gamma")).toDF("doc_id", "text")
    val io = FileIO.io.asInstanceOf[CatalogFileIO]
    io.crashAfterCasForTesting = true
    try intercept[IllegalStateException](cat.transactIfNewMarker(
      "graft.batch", 2L, corpus -> b2, idx -> fps(b2)))
    finally io.crashAfterCasForTesting = false
    // foreachBatch replay after restart: the CAS committed the whole
    // set — healing surfaces both tables' markers, the replay skips
    // WHOLE (the old per-table composition could redo the missing half
    // only because a crash could land half in the first place)
    assert(!cat.transactIfNewMarker("graft.batch", 2L,
      corpus -> b2, idx -> fps(b2)))
    assert(!cat.transactIfNewMarker("graft.batch", 1L,
      corpus -> b1, idx -> fps(b1)))
    assert(corpus.read().count() == 3 && idx.read().count() == 3)
    assert(corpus.meta.properties("graft.batch") == "2" &&
      idx.meta.properties("graft.batch") == "2",
      "rows and markers must advance in lockstep on both tables")
  }

  test("streaming foreachBatch drains a corpus + fingerprint index " +
      "through per-micro-batch transactions (AvailableNow)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val cat = new GraftCatalog(spark, tmp())
    val corpus = cat.createTable("db", "strm_docs",
      Seq("doc_id" -> "long", "text" -> "string"))
    val idx = cat.createTable("db", "strm_fp", Seq("fp" -> "string"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-txnstream").toString
    val src = (1L to 40L).map(i => (i, s"text-$i")).toDF("doc_id", "text")
    src.repartition(6).write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 2).parquet(srcDir)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          cat.transactIfNewMarker("graft.stream.batch", batchId,
            corpus -> batch,
            idx -> batch.select(md5(col("text")).as("fp")))
          ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(corpus.read().count() == 40 && idx.read().count() == 40)
    assert(corpus.read().select("doc_id").as[Long].collect().sorted.toSeq
      == (1L to 40L))
    // lockstep across every micro-batch: same final marker, and each
    // table committed exactly one snapshot per micro-batch with the
    // transaction-aligned timestamps
    assert(corpus.meta.properties("graft.stream.batch") ==
      idx.meta.properties("graft.stream.batch"))
    val cTs = corpus.meta.snapshots.map(_.timestampMs).sorted
    val iTs = idx.meta.snapshots.map(_.timestampMs).sorted
    assert(cTs == iTs, s"per-batch snapshots not aligned: $cTs vs $iTs")
  }

  test("transactOps: a CoW DELETE sweep retracts corpus + index rows " +
      "atomically; staged UPDATE composes; conflicts abort loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = new GraftCatalog(spark, tmp())
    val corpus = cat.createTable("db", "swc",
      Seq("id" -> "long", "v" -> "double"))
    val fp = cat.createTable("db", "swf",
      Seq("id" -> "long", "h" -> "long"))
    val ids = (1L to 20L)
    cat.transact(
      corpus -> ids.map(i => (i, i * 1.0)).toDF("id", "v"),
      fp -> ids.map(i => (i, i * 7L)).toDF("id", "h"))
    // the dedup-sweep shape: delete every id ≡ 0 (mod 5) from both
    // tables in ONE claim set
    cat.transactOps(Seq(
      graft.catalog.Tx.Delete(corpus, col("id") % 5 === 0),
      graft.catalog.Tx.Delete(fp, col("id") % 5 === 0)))
    assert(corpus.read().count() == 16 && fp.read().count() == 16)
    assert(corpus.read().join(fp.read(), "id").count() == 16,
      "corpus and index diverged after the sweep")
    // snapshots timestamp-aligned (transaction-consistent time travel):
    // AS OF the sweep's instant reads the swept PAIR; one tick earlier
    // reads the unswept pair
    val cTs = corpus.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs)
    val fTs = fp.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs)
    assert(cTs == fTs, s"not aligned: $cTs vs $fTs")
    assert(corpus.readAsOfTime(cTs.last).count() == 16 &&
      fp.readAsOfTime(cTs.last).count() == 16)
    assert(corpus.readAsOfTime(cTs.last - 1).count() == 20 &&
      fp.readAsOfTime(cTs.last - 1).count() == 20)
    // mixed shapes: UPDATE one table while the other appends, one set
    cat.transactOps(Seq(
      graft.catalog.Tx.Update(corpus, col("id") === 1L,
        Map("v" -> (col("v") + 100.0))),
      graft.catalog.Tx.Append(fp, Seq((21L, 147L)).toDF("id", "h"))))
    assert(corpus.read().filter(col("id") === 1L)
      .select("v").as[Double].head() == 101.0)
    assert(fp.read().count() == 17)
    // a no-match DML still commits an aligned snapshot per table
    cat.transactOps(Seq(
      graft.catalog.Tx.Delete(corpus, col("id") === -1L),
      graft.catalog.Tx.Delete(fp, col("id") === -1L)))
    assert(corpus.read().count() == 16 && fp.read().count() == 17)
    assert(corpus.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs) ==
      fp.meta.snapshots.sortBy(_.timestampMs).map(_.timestampMs))
    // conflict contract: a commit racing between STAGE and CLAIM makes
    // the staged rewrite abort loudly (rebasing a rewrite would drop
    // the racer's rows) instead of committing over it
    val stagedDel = corpus.stageDelete(col("id") === 2L)
    corpus.append(Seq((99L, 9.9)).toDF("id", "v"))
    intercept[graft.engine.ConcurrentCommitException] {
      graft.tableformat.MetadataIO.commitAll(Seq(
        corpus.location -> ((cur: graft.tableformat.TableMetadata) =>
          stagedDel(cur, System.currentTimeMillis()))))
    }
    assert(corpus.read().filter(col("id") === 2L).count() == 1,
      "conflicted staged delete must not land")
    // merge-on-read tables stage DML as positional delete files with
    // the same conflict contract: the sweep retracts from both tables
    // in one claim set without rewriting corpus data files
    corpus.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val dataFilesBefore = corpus.meta.currentSnapshot.get.files.map(_.path)
    cat.transactOps(Seq(
      graft.catalog.Tx.Delete(corpus, col("id") === 3L),
      graft.catalog.Tx.Delete(fp, col("id") === 3L)))
    assert(corpus.read().filter(col("id") === 3L).count() == 0)
    assert(fp.read().filter(col("id") === 3L).count() == 0)
    assert(corpus.meta.currentSnapshot.get.files.map(_.path) ==
      dataFilesBefore, "MoR staged delete must not rewrite data files")
    assert(corpus.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    // and the staged MoR form aborts on a racing commit like CoW
    val stagedMor = corpus.stageDelete(col("id") === 4L)
    corpus.append(Seq((98L, 9.8)).toDF("id", "v"))
    intercept[graft.engine.ConcurrentCommitException] {
      graft.tableformat.MetadataIO.commitAll(Seq(
        corpus.location -> ((cur: graft.tableformat.TableMetadata) =>
          stagedMor(cur, System.currentTimeMillis()))))
    }
    assert(corpus.read().filter(col("id") === 4L).count() == 1,
      "conflicted staged MoR delete must not land")
  }

  test("direct and staged row-level DML agree: DELETE, UPDATE and " +
      "MERGE in both write modes give the same rows, file counts and " +
      "operation; no match commits nothing direct, one snapshot staged") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.catalog.{Tx, TxOp}
    import graft.engine.{GraftTable, MergeInsertValuesClause,
      MergeUpdateClause}
    val cat = new GraftCatalog(spark, tmp())
    val n = new java.util.concurrent.atomic.AtomicInteger
    def table(mode: String): GraftTable = {
      val t = cat.createTable("db", s"dvs${n.incrementAndGet()}",
        Seq("id" -> "long", "v" -> "long"),
        properties = Seq("write.delete.mode", "write.update.mode",
          "write.merge.mode").map(_ -> mode).toMap)
      (0 until 3).foreach(b => t.append((b * 10L until (b + 1) * 10L)
        .map(i => (i, i)).toDF("id", "v").coalesce(1)))
      t
    }
    def merge(keys: Seq[Long], inserts: Boolean) = (t: GraftTable) =>
      Tx.Merge(t, keys.map(k => (k, -k)).toDF("sid", "sv"),
        col("id") === col("sid"),
        matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
        notMatched = if (!inserts) Nil else Seq(MergeInsertValuesClause(
          None, Map("id" -> col("sid"), "v" -> col("sv")))))
    def direct(op: TxOp): Unit = op match {
      case Tx.Delete(t, c)      => t.delete(c)
      case Tx.Update(t, c, as)  => t.update(c, as)
      case Tx.Merge(t, s, on, m, nm, _, _) => t.merge(s, on, m, nm)
      case other                => fail(s"not a row-level op: $other")
    }
    // (name, matching op, an op that matches no row)
    val ops: Seq[(String, GraftTable => TxOp, GraftTable => TxOp)] = Seq(
      ("DELETE", Tx.Delete(_, col("id") % 7 === 3L),
        Tx.Delete(_, col("id") === -1L)),
      ("UPDATE", Tx.Update(_, col("id") % 7 === 3L, Map("v" -> col("v") * 2)),
        Tx.Update(_, col("id") === -1L, Map("v" -> col("v") * 2))),
      ("MERGE", merge(Seq(5L, 15L, 100L), inserts = true),
        merge(Seq(-5L, 200L), inserts = false)))
    for (mode <- Seq("copy-on-write", "merge-on-read");
         (name, hit, miss) <- ops) {
      val what = s"$mode $name"
      val (a, b) = (table(mode), table(mode))
      def rows(t: GraftTable) = t.read().as[(Long, Long)].collect().sorted.toSeq
      def snap(t: GraftTable) = t.meta.currentSnapshot.get
      direct(hit(a))
      cat.transactOps(Seq(hit(b)))
      assert(rows(a) == rows(b), what)
      assert(rows(a) != (0L until 30L).map(i => (i, i)), s"$what changed nothing")
      assert(snap(a).files.size == snap(b).files.size &&
        snap(a).deleteFiles.size == snap(b).deleteFiles.size,
        s"$what: ${snap(a).files.size}/${snap(a).deleteFiles.size} direct vs " +
          s"${snap(b).files.size}/${snap(b).deleteFiles.size} staged")
      assert(snap(a).operation == snap(b).operation, what)
      assert(a.meta.snapshots.size == 4 && b.meta.snapshots.size == 4, what)
      val (aBefore, bBefore) = (snap(a), snap(b))
      direct(miss(a))
      cat.transactOps(Seq(miss(b)))
      assert(a.meta.snapshots.size == 4 &&
        snap(a).snapshotId == aBefore.snapshotId,
        s"$what: a no-match direct op must commit nothing")
      assert(b.meta.snapshots.size == 5, s"$what: staged no-match")
      assert(snap(b).files.map(_.path) == bBefore.files.map(_.path) &&
        snap(b).deleteFiles.map(_.path) == bBefore.deleteFiles.map(_.path),
        s"$what: the staged no-match snapshot must change no file")
      assert(rows(a) == rows(b), what)
    }
  }

  test("transactOps: a CoW MERGE commits with its index append in one " +
      "claim set; racing commits abort the staged merge loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.engine.{MergeInsertValuesClause, MergeUpdateClause}
    val cat = new GraftCatalog(spark, tmp())
    val fact = cat.createTable("db", "mgc",
      Seq("id" -> "long", "v" -> "long"))
    val idx = cat.createTable("db", "mgi",
      Seq("id" -> "long", "fp" -> "string"))
    cat.transact(
      fact -> (1L to 50L).map(i => (i, i)).toDF("id", "v"),
      idx -> (1L to 50L).map(i => (i, s"f$i")).toDF("id", "fp"))
    // the CDC upsert + its index rows, ONE claim set
    val batch = Seq((5L, 5000L), (99L, 99L)).toDF("sid", "sv")
    cat.transactOps(Seq(
      graft.catalog.Tx.Merge(fact, batch, col("id") === col("sid"),
        matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
        notMatched = Seq(MergeInsertValuesClause(None,
          Map("id" -> col("sid"), "v" -> col("sv"))))),
      graft.catalog.Tx.Append(idx, Seq((99L, "f99")).toDF("id", "fp"))))
    assert(fact.read().filter(col("id") === 5L).head().getLong(1) == 5000L)
    assert(fact.read().count() == 51 && idx.read().count() == 51)
    assert(fact.read().join(idx.read(), "id").count() == 51,
      "fact and index diverged after the transactional merge")
    assert(fact.meta.currentSnapshot.get.timestampMs ==
      idx.meta.currentSnapshot.get.timestampMs)
    // conflict contract: a commit racing between STAGE and CLAIM makes
    // the staged merge abort loudly (its rewrite planned against the
    // old snapshot; rebasing would drop the racer's rows)
    val stagedMerge = fact.stageMerge(
      Seq((5L, 1L)).toDF("sid", "sv"), col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Nil)
    fact.append(Seq((200L, 200L)).toDF("id", "v"))
    intercept[graft.engine.ConcurrentCommitException] {
      graft.tableformat.MetadataIO.commitAll(Seq(
        fact.location -> ((cur: graft.tableformat.TableMetadata) =>
          stagedMerge(cur, System.currentTimeMillis()))))
    }
    assert(fact.read().filter(col("id") === 5L).head().getLong(1) == 5000L,
      "conflicted staged merge must not land")
    assert(fact.read().filter(col("id") === 200L).count() == 1,
      "the racing append must survive")
    // merge-on-read targets stage too: positional delete + appended
    // copy, no data-file rewrite, same atomic claim with the index
    fact.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    val dataBefore = fact.meta.currentSnapshot.get.files.map(_.path)
    cat.transactOps(Seq(
      graft.catalog.Tx.Merge(fact, Seq((7L, 7000L)).toDF("sid", "sv"),
        col("id") === col("sid"),
        matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
        notMatched = Nil),
      graft.catalog.Tx.Append(idx, Seq((7L, "f7b")).toDF("id", "fp"))))
    assert(fact.read().filter(col("id") === 7L).head().getLong(1) == 7000L)
    assert(fact.meta.currentSnapshot.get.files.map(_.path)
      .containsSlice(dataBefore),
      "MoR staged merge must keep base data files (appends copies only)")
    assert(fact.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    assert(idx.read().filter(col("fp") === "f7b").count() == 1)
  }

  test("chained-transaction differential fuzz: a random statement " +
      "chain committed as ONE transaction equals the same statements " +
      "run sequentially, on CoW and MoR tables, one snapshot per chain " +
      "(DML + staged-DDL arms)") {
    import spark.implicits._
    val seed = sys.env.getOrElse("GRAFT_FUZZ_SEED", "1809").toLong
    val rnd = new scala.util.Random(seed)
    val before = graft.tableformat.FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      graft.tableformat.FileIO.install(
        new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
      val cat = new GraftCatalog(spark, tmp())
      for (round <- 0 until 4) {
        // `tag` exists for the RENAME arm only — DML never names it,
        // so a mid-chain rename can't invalidate later statements
        val txn = cat.createTable("db", s"chf_t$round",
          Seq("id" -> "long", "v" -> "long", "tag" -> "string"))
        val seqT = cat.createTable("db", s"chf_s$round",
          Seq("id" -> "long", "v" -> "long", "tag" -> "string"))
        val init = (0L until 50L).map(i => (i, i, s"t$i"))
          .toDF("id", "v", "tag")
        txn.append(init); seqT.append(init)
        if (round % 2 == 1) {
          val mor = Map("write.delete.mode" -> "merge-on-read",
            "write.update.mode" -> "merge-on-read",
            "write.merge.mode" -> "merge-on-read")
          txn.setProperties(mor); seqT.setProperties(mor)
        }
        // generation is sequential, so the rename arm can track the
        // tag column's current name deterministically
        var tagName = "tag"
        val stmtsK: Seq[(String, String => String)] =
          (0 until 2 + rnd.nextInt(3)).map { k =>
            rnd.nextInt(7) match {
              case 0 =>
                val id = 100 + round * 10 + k
                ("data",
                  (t: String) => s"INSERT INTO $t (id, v) VALUES ($id, $k)")
              case 1 =>
                val m = 2 + rnd.nextInt(5)
                ("data", (t: String) => s"DELETE FROM $t WHERE id % $m = 1")
              case 2 =>
                val m = 2 + rnd.nextInt(5)
                ("data",
                  (t: String) => s"UPDATE $t SET v = v + 10 WHERE id % $m = 0")
              case 3 =>
                val sid = rnd.nextInt(60); val sv = k * 7
                ("data", (t: String) => s"MERGE INTO $t x USING " +
                  s"(SELECT CAST($sid AS BIGINT) AS sid, " +
                  s"CAST($sv AS BIGINT) AS sv) s ON x.id = s.sid " +
                  "WHEN MATCHED THEN UPDATE SET v = s.sv " +
                  "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.sid, s.sv)")
              // DDL arms (r19: staged DDL must compose with DML in one
              // chain and land in the same claim set)
              case 4 =>
                ("ddl",
                  (t: String) => s"ALTER TABLE $t ADD COLUMN extra$k string")
              case 5 =>
                // capture BOTH names by value: the closure runs after
                // generation finished, and interpolating the tracking
                // var would make every rename in the round target the
                // FINAL name (a latent bug the savepoint arm's extra
                // rnd draws surfaced at seed 7)
                val old = tagName; val nw = s"tag$k"; tagName = nw
                ("rename", (t: String) =>
                  s"ALTER TABLE $t RENAME COLUMN $old TO $nw")
              case _ =>
                ("ddl", (t: String) => s"ALTER TABLE $t SET TBLPROPERTIES " +
                  s"('fuzz.k$k' = 'v$k')")
            }
          }
        // savepoint arm (r19): wrap a random RENAME-FREE segment in
        // SAVEPOINT / ROLLBACK TO SAVEPOINT on the transaction side
        // and skip it entirely on the sequential side — the committed
        // results must still match. (Rename-free because later
        // generated statements were built against the post-rename
        // column name; every rename must run on both sides.)
        val cutCandidates = for {
          p <- stmtsK.indices; q <- p until stmtsK.size
          if (p to q).forall(i => stmtsK(i)._1 != "rename")
        } yield (p, q)
        val cut: Option[(Int, Int)] =
          if (rnd.nextInt(2) == 0 && cutCandidates.nonEmpty)
            Some(cutCandidates(rnd.nextInt(cutCandidates.size)))
          else None
        def inCut(i: Int): Boolean =
          cut.exists { case (p, q) => i >= p && i <= q }
        val dataStmts = stmtsK.zipWithIndex.count { case ((kind, _), i) =>
          kind == "data" && !inCut(i) }
        val snaps0 = txn.meta.snapshots.size
        spark.sql("BEGIN TRANSACTION")
        stmtsK.zipWithIndex.foreach { case ((_, f), i) =>
          if (cut.exists(_._1 == i)) spark.sql("SAVEPOINT fz")
          spark.sql(f(s"graft.db.chf_t$round"))
          if (cut.exists(_._2 == i))
            spark.sql("ROLLBACK TO SAVEPOINT fz")
        }
        spark.sql("COMMIT")
        stmtsK.zipWithIndex.foreach { case ((_, f), i) =>
          if (!inCut(i)) spark.sql(f(s"graft.db.chf_s$round"))
        }
        val a = txn.read().orderBy("id").collect().map(_.toSeq).toSeq
        val b = seqT.read().orderBy("id").collect().map(_.toSeq).toSeq
        assert(a == b,
          s"round $round (seed $seed, ${stmtsK.size} statements, " +
            s"cut $cut): chained != sequential")
        assert(txn.meta.currentSchema.fields ==
          seqT.meta.currentSchema.fields,
          s"round $round: staged-DDL schema diverged from sequential")
        assert(txn.meta.properties.filter(_._1.startsWith("fuzz.")) ==
          seqT.meta.properties.filter(_._1.startsWith("fuzz.")),
          s"round $round: staged properties diverged")
        // DDL adds no snapshot; any data statements collapse to ONE
        assert(txn.meta.snapshots.size ==
          snaps0 + (if (dataStmts > 0) 1 else 0),
          s"round $round: the chain must publish ONE snapshot " +
            s"($dataStmts data statements)")
      }
    } finally {
      graft.tableformat.FileIO.install(before)
      server.close()
    }
  }

  test("snapshot-isolation differential fuzz: racing commits between " +
      "the statements of an open transaction change neither what it " +
      "reads (plain, filtered, view-expanded) nor what its " +
      "INSERT..SELECT chains write — the transaction behaves as if it " +
      "ran instantaneously at BEGIN") {
    import spark.implicits._
    val seed = sys.env.getOrElse("GRAFT_FUZZ_SEED", "2026").toLong
    val rnd = new scala.util.Random(seed)
    val before = FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      FileIO.install(new CatalogFileIO("127.0.0.1", server.port))
      val cat = new GraftCatalog(spark, tmp())
      for (round <- 0 until 4) {
        // `ref` is READ-ONLY inside the transaction; a racer commits
        // API appends to it between every statement. `tgt` (txn) and
        // `tgs` (sequential twin) receive the same statement chain —
        // the twin runs FIRST, against ref's begin-time state, so the
        // transaction run only matches if its pins really freeze ref.
        val ref = cat.createTable("db", s"sif_r$round",
          Seq("id" -> "long", "v" -> "long"))
        ref.append((0L until 40L).map(i => (i, i * 2)).toDF("id", "v"))
        val tgt = cat.createTable("db", s"sif_t$round",
          Seq("id" -> "long", "v" -> "long"))
        val tgs = cat.createTable("db", s"sif_s$round",
          Seq("id" -> "long", "v" -> "long"))
        spark.sql(s"CREATE VIEW graft.db.sif_v$round AS " +
          s"SELECT id, v FROM graft.db.sif_r$round WHERE id % 2 = 0")
        // the statement chain: reads of ref (through every surface the
        // pin serves) interleaved with DML on tgt that SELECTs from
        // ref — a staged write's INPUT must be the pinned state too
        val stmts: Seq[(String, String => String)] =
          (0 until 3 + rnd.nextInt(3)).map { k =>
            rnd.nextInt(5) match {
              case 0 => ("read", _ =>
                s"SELECT count(*) AS c FROM graft.db.sif_r$round")
              case 1 =>
                val m = 2 + rnd.nextInt(4)
                ("read", _ => "SELECT count(*) AS c, sum(v) AS s " +
                  s"FROM graft.db.sif_r$round WHERE id % $m = 0")
              case 2 => ("read", _ =>
                s"SELECT count(*) AS c FROM graft.db.sif_v$round")
              case 3 =>
                val m = 2 + rnd.nextInt(4)
                ("dml", (t: String) => s"INSERT INTO $t " +
                  s"SELECT id + ${k * 1000}, v FROM graft.db.sif_r$round " +
                  s"WHERE id % $m = $k % $m")
              case _ =>
                ("dml", (t: String) =>
                  s"UPDATE $t SET v = v + 1 WHERE id % 3 = 0")
            }
          }
        // sequential twin first: ref is still at its begin-time state
        val expectedReads = stmts.collect { case ("read", f) =>
          spark.sql(f("")).collect().map(_.toSeq).toSeq
        }
        stmts.foreach { case (kind, f) =>
          if (kind == "dml") spark.sql(f(s"graft.db.sif_s$round"))
        }
        val expectedTgt = tgs.read().orderBy("id", "v")
          .collect().map(_.toSeq).toSeq
        // transaction run, a racer committing to ref between every
        // statement (API append — not transaction-mediated, the
        // concurrent-writer simulation)
        var nextRacer = 1000L
        spark.sql("BEGIN TRANSACTION")
        val gotReads = scala.collection.mutable.Buffer
          .empty[Seq[Seq[Any]]]
        stmts.foreach { case (kind, f) =>
          val parent = ref.meta.currentSnapshot.flatMap(_.parentId)
          if (rnd.nextInt(3) == 0 && parent.isDefined)
            // POINTER-MOVE racer: roll the pointer back one commit.
            // The rolled-back-to snapshot keeps its original (possibly
            // pre-BEGIN) creation stamp — only the log-ordered
            // clean-check keeps the pin honest against this racer
            ref.rollbackTo(parent.get)
          else {
            ref.append(Seq((nextRacer, nextRacer)).toDF("id", "v"))
            nextRacer += 1
          }
          if (kind == "read")
            gotReads += spark.sql(f("")).collect().map(_.toSeq).toSeq
          else spark.sql(f(s"graft.db.sif_t$round"))
        }
        spark.sql("COMMIT")
        assert(gotReads.toSeq == expectedReads,
          s"round $round (seed $seed): a read inside the transaction " +
            "saw a racing commit")
        val gotTgt = tgt.read().orderBy("id", "v")
          .collect().map(_.toSeq).toSeq
        assert(gotTgt == expectedTgt,
          s"round $round (seed $seed): the transaction's writes " +
            "diverged from sequential-at-begin-time")
        // after COMMIT the pins are gone: the SQL surface reads the
        // LIVE state the racers left (appends minus pointer rollbacks)
        assert(spark.sql(s"SELECT count(*) FROM graft.db.sif_r$round")
          .head().getLong(0) == ref.read().count(),
          s"round $round: COMMIT must release the pin")
      }
    } finally {
      FileIO.install(before)
      server.close()
    }
  }

  test("one-instant pins: a racing MULTI-TABLE commit landing between " +
      "two first touches is seen nowhere (never the torn " +
      "index-without-corpus pair); a revalidating chain on a table " +
      "that moved between BEGIN and first touch aborts at COMMIT " +
      "while a pure-append chain composes; a view redefined in that " +
      "window expands its begin definition and a staged redefinition " +
      "of it aborts") {
    import spark.implicits._
    val before = FileIO.io
    val server = new graft.tableformat.CatalogCommitServer
    try {
      FileIO.install(new CatalogFileIO("127.0.0.1", server.port))
      val cat = new GraftCatalog(spark, tmp())
      // --- the torn pair: corpus pinned BEFORE the racer's atomic
      // corpus+index commit, index first-touched AFTER it. Per-table
      // first-touch pinning would serve the racer's index half without
      // its corpus half — exactly the subset read the engine's
      // multi-table transactions exist to prevent. One-instant pins
      // rewind the index to the BEGIN instant: the racer is seen
      // nowhere.
      val corpus = cat.createTable("db", "oi_c", Seq("id" -> "long"))
      val index = cat.createTable("db", "oi_i", Seq("id" -> "long"))
      corpus.append(Seq(1L, 2L).toDF("id"))
      index.append(Seq(1L, 2L).toDF("id"))
      spark.sql("BEGIN TRANSACTION")
      assert(spark.sql("SELECT count(*) FROM graft.db.oi_c")
        .head().getLong(0) == 2) // pins corpus
      cat.transact( // the racer's ATOMIC two-table commit
        corpus -> Seq(9L).toDF("id"),
        index -> Seq(9L).toDF("id"))
      assert(spark.sql("SELECT count(*) FROM graft.db.oi_i")
        .head().getLong(0) == 2,
        "the racing multi-table commit's index half leaked into a " +
          "transaction that pinned corpus before it (torn-pair read)")
      assert(spark.sql("SELECT count(*) FROM graft.db.oi_c")
        .head().getLong(0) == 2)
      spark.sql("COMMIT")
      assert(index.read().count() == 3 && corpus.read().count() == 3)
      // --- first-committer-wins against the instant: a racer landing
      // between BEGIN and the transaction's FIRST TOUCH of a table
      // makes any revalidating chain on it (row-level DML / DDL)
      // abort at COMMIT — its plan matches the begin-time reads, not
      // the racer's state
      val t3 = cat.createTable("db", "oi_d", Seq("id" -> "long"))
      t3.append(Seq(1L, 2L, 3L).toDF("id"))
      spark.sql("BEGIN TRANSACTION")
      t3.append(Seq(50L).toDF("id")) // racer, before any touch of t3
      spark.sql("DELETE FROM graft.db.oi_d WHERE id = 2")
      assert(spark.sql("SELECT count(*) FROM graft.db.oi_d")
        .head().getLong(0) == 2, "RYOW over the begin-instant pin")
      val e = intercept[Exception](spark.sql("COMMIT"))
      assert(e.getMessage.contains("between BEGIN"), e.getMessage)
      assert(t3.read().count() == 4,
        "the aborted DELETE must leave the racer's state untouched")
      // ...but a PURE-APPEND chain on the same dirty table composes:
      // appends are base-free
      spark.sql("BEGIN TRANSACTION")
      t3.append(Seq(60L).toDF("id")) // racer again
      spark.sql("INSERT INTO graft.db.oi_d VALUES (70)")
      spark.sql("COMMIT")
      assert(t3.read().as[Long].collect().toSet ==
        Set(1L, 2L, 3L, 50L, 60L, 70L))
      // --- views: redefined by a racer between BEGIN and the first
      // expansion → the transaction expands the BEGIN definition; a
      // staged redefinition of that view aborts at COMMIT
      val vt = cat.createTable("db", "oi_v", Seq("id" -> "long"))
      vt.append(Seq(1L, 2L).toDF("id"))
      spark.sql("CREATE VIEW graft.db.oi_vv AS " +
        "SELECT sum(id) AS s FROM graft.db.oi_v")
      val vloc = cat.location("db", "oi_vv")
      spark.sql("BEGIN TRANSACTION")
      val d0 = ViewIO.read(vloc) // racer redefines before first touch
      Thread.sleep(2)
      val nid = d0.versions.map(_.versionId).max + 1
      ViewIO.commit(vloc, d0.copy(currentVersionId = nid,
        versions = d0.versions :+ d0.current.copy(versionId = nid,
          timestampMs = System.currentTimeMillis(),
          sql = "SELECT count(*) AS s FROM graft.db.oi_v")))
      assert(spark.sql("SELECT * FROM graft.db.oi_vv")
        .head().getLong(0) == 3L,
        "the transaction must expand the BEGIN-instant definition")
      spark.sql("CREATE OR REPLACE VIEW graft.db.oi_vv AS " +
        "SELECT max(id) AS s FROM graft.db.oi_v")
      val e2 = intercept[Exception](spark.sql("COMMIT"))
      assert(e2.getMessage.contains("between BEGIN"), e2.getMessage)
      assert(ViewIO.read(vloc).current.sql.contains("count(*)"),
        "the racer's committed definition must stand")
    } finally {
      FileIO.install(before)
      server.close()
    }
  }

  test("transactOpsIfNewMarker: a replayed sweep skips whole — no " +
      "double delete, no torn marker") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = new GraftCatalog(spark, tmp())
    val corpus = cat.createTable("db", "swm_c",
      Seq("id" -> "long", "v" -> "long"))
    val fp = cat.createTable("db", "swm_f",
      Seq("id" -> "long", "h" -> "long"))
    cat.transact(
      corpus -> (1L to 30L).map(i => (i, i)).toDF("id", "v"),
      fp -> (1L to 30L).map(i => (i, i * 7L)).toDF("id", "h"))
    def sweep(batch: Long, mod: Long): Boolean =
      cat.transactOpsIfNewMarker("graft.sweep.batch", batch, Seq(
        graft.catalog.Tx.Delete(corpus, col("id") % mod === 0),
        graft.catalog.Tx.Delete(fp, col("id") % mod === 0)))
    assert(sweep(1L, 5L))
    assert(corpus.read().count() == 24 && fp.read().count() == 24)
    // micro-batch REPLAY: same marker — skipped whole, nothing changes
    assert(!sweep(1L, 3L))
    assert(corpus.read().count() == 24 && fp.read().count() == 24)
    // next batch commits, markers advance in lockstep on both tables
    assert(sweep(2L, 3L))
    assert(corpus.read().count() == 16 && fp.read().count() == 16)
    assert(corpus.meta.properties("graft.sweep.batch") == "2" &&
      fp.meta.properties("graft.sweep.batch") == "2")
    assert(corpus.read().join(fp.read(), "id").count() == 16,
      "corpus and index must stay joined after replayed sweeps")
  }

  test("views in transactions: a column rename and the dependent " +
      "view's redefinition publish atomically — a reader loop never " +
      "observes the stale-view window") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = new GraftCatalog(spark, tmp())
    val t = cat.createTable("db", "vt", Seq("a" -> "long", "b" -> "double"))
    t.append((1L to 50L).map(i => (i, i * 0.5)).toDF("a", "b"))
    spark.conf.set("spark.graft.warehouse", cat.warehouse)
    spark.sql("CREATE VIEW graft.db.vv AS SELECT a, b FROM graft.db.vt")
    assert(spark.sql("SELECT sum(a) FROM graft.db.vv").head().getLong(0)
      == 1275L)

    // table transform: rename the view's source column (evolveSchema's
    // shape, raw so it can join the claim set)
    def renameF(from: String, to: String)
        : graft.tableformat.TableMetadata => graft.tableformat.TableMetadata =
      cur => {
        val f = cur.currentSchema.fieldByName(from).getOrElse(
          sys.error(s"no column $from"))
        val next = graft.tableformat.VersionedSchema(
          cur.schemas.map(_.schemaId).max + 1,
          cur.currentSchema.fields.map(x =>
            if (x.id == f.id) x.copy(name = to) else x))
        cur.copy(currentSchemaId = next.schemaId,
          schemas = cur.schemas :+ next)
      }
    // view transform: redefine over the renamed column, output schema
    // unchanged (carried — the new SQL can't analyze until the rename
    // commits, which is the point of the shared claim set)
    def redefineF(srcCol: String): ViewMetadata => ViewMetadata =
      vm => {
        val nv = vm.current.copy(
          versionId = vm.versions.map(_.versionId).max + 1,
          timestampMs = System.currentTimeMillis(),
          sql = s"SELECT $srcCol AS a, b FROM graft.db.vt")
        vm.copy(currentVersionId = nv.versionId, versions = vm.versions :+ nv)
      }

    // reader loop with a stability sandwich: the view document can't
    // be read at the same instant as the table's, so a failure only
    // counts when the view version is UNCHANGED across the probe —
    // then the table read provably paired with that view definition,
    // and an analysis error means a genuinely published stale pair.
    val viewLoc = java.nio.file.Paths.get(cat.warehouse, "db", "vv").toString
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stale = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val v1 = ViewIO.read(viewLoc).currentVersionId
        val ok =
          try {
            spark.sql("SELECT sum(a) FROM graft.db.vv").head().getLong(0)
            true
          } catch { case _: Exception => false }
        val v2 = ViewIO.read(viewLoc).currentVersionId
        if (v1 == v2) {
          reads.incrementAndGet()
          if (!ok) stale.incrementAndGet()
        }
      }
    }, "stale-view-probe")
    reader.start()
    var flips = 0
    try {
      // bounce the rename + redefinition through transactions until
      // the probe has accumulated enough STABLE samples (at least 5
      // flips; paced so most probes don't straddle a commit)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while ((reads.get() < 10 || flips < 5) && System.nanoTime() < deadline) {
        val (from, to) = if (flips % 2 == 0) ("a", "a2") else ("a2", "a")
        cat.transactTransforms(
          Seq(t -> renameF(from, to)),
          Seq("db.vv" -> redefineF(to)))
        flips += 1
        // paced so most probes complete WITHOUT straddling a commit —
        // a straddling probe is discarded by the sandwich, so back-to-
        // back flips would starve the stable-sample count
        Thread.sleep(250)
      }
      // end on the renamed column for the final-state assertions
      if (t.meta.currentSchema.fieldByName("a2").isEmpty) {
        cat.transactTransforms(
          Seq(t -> renameF("a", "a2")), Seq("db.vv" -> redefineF("a2")))
        flips += 1
      }
    } finally { stop.set(true); reader.join() }
    assert(reads.get() >= 10, "the probe never completed a stable sandwich")
    assert(stale.get() == 0,
      s"reader observed ${stale.get()} stale-view windows in ${reads.get()} probes")
    // final state: the view serves over the renamed column
    assert(t.meta.currentSchema.fieldByName("a2").isDefined)
    assert(spark.sql("SELECT sum(a) FROM graft.db.vv").head().getLong(0)
      == 1275L)
    // view history recorded every transactional redefinition
    assert(ViewIO.read(viewLoc).versions.size == 1 + flips)
  }

  test("bare stores refuse multi-table transactions loudly; " +
      "single-table commits are unaffected") {
    val before = FileIO.io
    FileIO.install(new ObjectStoreFileIO)
    try {
      import spark.implicits._
      val cat = new GraftCatalog(spark, tmp())
      val a = cat.createTable("db", "na", Seq("id" -> "long"))
      val b = cat.createTable("db", "nb", Seq("id" -> "long"))
      val e = intercept[UnsupportedOperationException](cat.transact(
        a -> Seq(1L).toDF("id"), b -> Seq(1L).toDF("id")))
      assert(e.getMessage.contains("catalog"), e.getMessage)
      a.append(Seq(2L).toDF("id"))
      assert(a.read().count() == 1 && b.read().count() == 0)
    } finally FileIO.install(before)
  }

  test("cross-process: a reader polling corpus-then-index never " +
      "observes a corpus commit without its index commit") {
    val wh = tmp()
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("db", "corpus", Seq("id" -> "long", "v" -> "string"))
    cat.createTable("db", "fpidx", Seq("id" -> "long", "v" -> "string"))
    val dir = java.nio.file.Files.createTempDirectory("graft-txnrace")
    val p = ForkHelper.forkJava("graft.TransactChild", Seq(wh, "8"),
      Some(s"catalog:${catalogServer.port}"), dir, "txw")
    // poll CORPUS FIRST, index second: were the two commits not atomic
    // (corpus's version published/claimed before the index's), a poll
    // landing between them would read index < corpus — the violation
    def counts(): (Long, Long) = (
      new graft.engine.GraftTable(spark, s"$wh/db/corpus").countRows(),
      new graft.engine.GraftTable(spark, s"$wh/db/fpidx").countRows())
    var polls = 0
    while (p.isAlive) {
      val (ca, cb) = counts()
      assert(cb >= ca,
        s"reader observed corpus=$ca with index=$cb (poll $polls)")
      polls += 1
      Thread.sleep(20)
    }
    assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS) &&
      p.exitValue() == 0, s"writer failed; logs under $dir")
    val (ca, cb) = counts()
    assert(ca == 8L && cb == 8L, s"final counts: corpus=$ca index=$cb")
    assert(polls > 0)
  }

  test("transactOps lifts the shared instant past a skewed-forward " +
      "racer: no slot of the API-level transaction may stamp above " +
      "the others") {
    import spark.implicits._
    val cat = new GraftCatalog(spark, tmp())
    val a = cat.createTable("db", "ska", Seq("id" -> "long"))
    val b = cat.createTable("db", "skb", Seq("id" -> "long"))
    a.append(Seq(1L).toDF("id"))
    b.append(Seq(1L).toDF("id"))
    // cross-process writer with a +5 s clock: its stamp outruns this
    // process's wall clock, so the engine's per-document monotonic
    // floor would push A's slot 5 s above B's — the transaction must
    // lift the WHOLE set's instant past it instead
    val future = System.currentTimeMillis() + 5000L
    graft.tableformat.MetadataIO.commitRetry(a.location) { cur =>
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
    cat.transact(
      a -> Seq(2L).toDF("id"),
      b -> Seq(2L).toDF("id"))
    val sa = a.meta.currentSnapshot.get.timestampMs
    val sb = b.meta.currentSnapshot.get.timestampMs
    assert(sa == sb,
      s"transactOps slots diverged: A stamped $sa, B stamped $sb — " +
        "a TIMESTAMP AS OF probe between them reads half the transaction")
    assert(sa > future, "the shared instant must clear the racer's stamp")
  }
}
